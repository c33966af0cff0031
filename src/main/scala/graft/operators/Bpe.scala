package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Byte-pair-encoding merge training (Sennrich et al., "Neural Machine
  * Translation of Rare Words with Subword Units", ACL 2016) — learn the
  * merge table a subword tokenizer runs, from the corpus itself.
  *
  * Distributed shape: the corpus collapses into a WORD-FREQUENCY table
  * first (one explode + one hash aggregation — the only corpus-sized
  * pass), capped at `topVocab` entries by (count desc, word asc) via
  * distributed TakeOrdered. Every merge iteration then runs on that
  * vocabulary frame: adjacent-pair counts weighted by word frequency
  * (one small agg), a 1-row argmax to the driver (count desc, then
  * lexicographic pair — fully deterministic), and a map-only kernel
  * rewriting the symbol sequences. Training cost is
  * O(corpus) + nMerges · O(vocab), the standard practice for BPE at
  * scale (capping the training vocabulary loses only hapax tails that
  * can't win a merge anyway once `topVocab` exceeds the distinct-word
  * count of interest).
  *
  * The merge loop is a single-partition [[Loop]]: the vocabulary frame is
  * bounded at `topVocab` rows by construction (a few MB at the 10⁵
  * default), so each round is one collect job + one checkpoint job with
  * zero exchanges, and the plan doesn't grow with nMerges.
  */
object Bpe {

  private def co(e: Expression): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(e)
  private def ex(c: Column): Expression =
    org.apache.spark.sql.graftbridge.ColumnBridge.expr(c)

  /** Apply one merge (left, right) → left+right over a symbol array,
    * left-to-right, non-overlapping — the BPE merge step as a map-only
    * kernel expression.
    */
  def applyMerge(symbols: Column, left: String, right: String): Column =
    co(BpeApplyMerge(ex(symbols), left, right))

  /** Learn `nMerges` merges. Returns (rank, left, right, pair_count) —
    * rank 1 is the first (highest-count) merge. Deterministic: ties in
    * pair count break lexicographically on (left, right).
    */
  def train(df: DataFrame, textCol: String, nMerges: Int,
            topVocab: Int = 100000): DataFrame = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    val spark = df.sparkSession
    import spark.implicits._
    // corpus → capped word-frequency table (the one corpus-sized pass)
    val words = df.select(explode(TextAnalysis.tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w").asc).limit(topVocab)
    // The corpus pass above keeps the session width and AQE (its shuffle
    // is corpus-sized; the deployment's knobs are the right ones); only
    // the merge loop below runs single-partition.
    Loop.single { loop =>
      // initial symbol sequences: one character per symbol
      var vocab = loop.round(words.select(
          // (?!^)(?!$): split at every inter-char position — NOT at the ends
          // (Spark's split keeps the trailing empty piece a bare (?!^) emits)
          split(col("w"), "(?!^)(?!$)").as("syms"), col("cnt")))
      val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
      var rank = 1
      while (rank <= nMerges) {
        val top = vocab.filter(size(col("syms")) >= 2)
          .select(explode(transform(sequence(lit(1), size(col("syms")) - 1),
            i => struct(element_at(col("syms"), i).as("l"),
              element_at(col("syms"), i + 1).as("r")))).as("p"), col("cnt"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("cnt")).as("n"))
          .orderBy(col("n").desc, col("l").asc, col("r").asc)
          .limit(1).collect()
        if (top.isEmpty) rank = nMerges + 1 // every word fully merged — stop
        else {
          val row = top.head
          val (l, r, n) = (row.getString(0), row.getString(1), row.getLong(2))
          merges += ((rank, l, r, n))
          vocab = loop.round(
            vocab.select(applyMerge(col("syms"), l, r).as("syms"), col("cnt")))
          rank += 1
        }
      }
      merges.toSeq.toDF("rank", "left", "right", "pair_count")
    }
  }

  /** Tokenize text with a learned merge table: normalized chars → merges
    * applied in rank order. The space symbol never merges (no learned
    * pair contains one — training is per word), so words can't fuse.
    * Map-only; the merge list rides the expressions.
    */
  def segment(text: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(split(regexp_replace(lower(trim(text)), "\\s+", " "),
        "(?!^)(?!$)")) {
      case (syms, (l, r)) => applyMerge(syms, l, r)
    }
}

object BpeKernels {
  /** One left-to-right, non-overlapping merge pass. */
  def applyMerge(syms: ArrayData, left: UTF8String, right: UTF8String,
                 merged: UTF8String): ArrayData = {
    val n = syms.numElements()
    val out = new Array[UTF8String](n)
    var i = 0
    var m = 0
    while (i < n) {
      if (i + 1 < n && left.equals(syms.getUTF8String(i)) &&
          right.equals(syms.getUTF8String(i + 1))) {
        out(m) = merged; i += 2
      } else {
        out(m) = syms.getUTF8String(i); i += 1
      }
      m += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(
      out.asInstanceOf[Array[AnyRef]], m))
  }
}

/** array<string> → array<string>, merging adjacent (left, right) pairs. */
case class BpeApplyMerge(child: Expression, left: String, right: String)
    extends UnaryExpression {
  private val leftU = UTF8String.fromString(left)
  private val rightU = UTF8String.fromString(right)
  private val mergedU = UTF8String.fromString(left + right)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    BpeKernels.applyMerge(input.asInstanceOf[ArrayData], leftU, rightU, mergedU)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val l = ctx.addReferenceObj("bpeLeft", leftU, "org.apache.spark.unsafe.types.UTF8String")
    val r = ctx.addReferenceObj("bpeRight", rightU, "org.apache.spark.unsafe.types.UTF8String")
    val m = ctx.addReferenceObj("bpeMerged", mergedU, "org.apache.spark.unsafe.types.UTF8String")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.operators.BpeKernels.applyMerge($a, $l, $r, $m);")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
