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
  * Shape: the corpus collapses into a WORD-FREQUENCY table first (one
  * explode + one hash aggregation — the only corpus-sized pass, at the
  * session's width and AQE), capped at `topVocab` entries by
  * (count desc, word asc) via distributed TakeOrdered and split into one
  * symbol per character. That table comes to the driver in one collect,
  * and the merge loop runs there in memory, as in the paper: each round
  * counts adjacent pairs weighted by word frequency, takes the top pair
  * (count desc, then (left, right) in Spark's string order — fully
  * deterministic) and rewrites the symbol sequences with
  * [[BpeKernels.applyMerge]], the kernel [[segment]] runs. Training cost
  * stays O(corpus) + nMerges · O(vocab) (capping the training vocabulary
  * loses only hapax tails that can't win a merge anyway once `topVocab`
  * exceeds the distinct-word count of interest).
  *
  * Why the driver: the vocabulary is bounded at `topVocab` rows by
  * construction (a few MB at the 10⁵ default), and as a Spark loop it sat
  * in one partition anyway, so the rounds ran in one task each; on the
  * driver a round costs no job launch, no checkpoint and no plan, where
  * it cost a collect job and a checkpoint job.
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
    * pair count break lexicographically on (left, right). Stops early,
    * with fewer rows, once no word has two symbols left.
    */
  def train(df: DataFrame, textCol: String, nMerges: Int,
            topVocab: Int = 100000): DataFrame = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    val spark = df.sparkSession
    import spark.implicits._
    // corpus → capped word-frequency table (the one corpus-sized pass),
    // each word split into its initial symbols: one per character
    val vocab = df.select(explode(TextAnalysis.tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w").asc).limit(topVocab)
      // (?!^)(?!$): split at every inter-char position — NOT at the ends
      // (Spark's split keeps the trailing empty piece a bare (?!^) emits)
      .select(split(col("w"), "(?!^)(?!$)").as("syms"), col("cnt"))
      .collect()
    val cnts = vocab.map(_.getLong(1))
    var words: Array[ArrayData] = vocab.map(r => new GenericArrayData(
      r.getSeq[String](0).map(UTF8String.fromString).toArray[Any]))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var done = false
    while (!done && merges.length < nMerges) topPair(words, cnts) match {
      case None => done = true // every word fully merged
      case Some((l, r, n)) =>
        merges += ((merges.length + 1, l.toString, r.toString, n))
        val lr = UTF8String.concat(l, r)
        words = words.map(BpeKernels.applyMerge(_, l, r, lr))
    }
    merges.toSeq.toDF("rank", "left", "right", "pair_count")
  }

  /** The adjacent pair with the highest count over `words`, each
    * occurrence weighted by its word's count; overlapping occurrences all
    * count (a a a holds (a, a) twice). Ties break on left, then right, in
    * Spark's string order (`UTF8String.compareTo`). None when no word has
    * two symbols.
    */
  private def topPair(words: Array[ArrayData], cnts: Array[Long])
      : Option[(UTF8String, UTF8String, Long)] = {
    val n = scala.collection.mutable.HashMap.empty[(UTF8String, UTF8String), Long]
    for (w <- words.indices; i <- 0 until words(w).numElements() - 1) {
      val p = (words(w).getUTF8String(i), words(w).getUTF8String(i + 1))
      n(p) = n.getOrElse(p, 0L) + cnts(w)
    }
    def before(a: ((UTF8String, UTF8String), Long),
               b: ((UTF8String, UTF8String), Long)): Boolean =
      if (a._2 != b._2) a._2 > b._2
      else {
        val c = a._1._1.compareTo(b._1._1)
        if (c != 0) c < 0 else a._1._2.compareTo(b._1._2) < 0
      }
    n.reduceOption((a, b) => if (before(a, b)) a else b)
      .map { case ((l, r), c) => (l, r, c) }
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
