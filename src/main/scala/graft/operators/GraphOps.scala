package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over edge frames — the iterative-plan family beside
  * [[Dedup.resolveClusters]] (components): here, influence/centrality.
  *
  * The reference has no graph tier; this serves the training-data use it
  * enables — on the near-dup candidate graph, high-centrality nodes are
  * boilerplate hubs (one template near-duplicating hundreds of pages),
  * the thing to inspect (or drop whole) before per-pair dedup spends its
  * budget there.
  */
object GraphOps {

  /** Fixed-iteration PageRank in integer micro-units — deterministic and
    * engine-exact by construction: rank starts at 1_000_000 (1.0), each
    * round a node emits `p DIV out_degree` along every out-edge (integer
    * floor division) and collects
    * `150_000 + (damp · inflow) DIV 100` — no float sum whose order
    * could differ between engines or between task schedules. Dangling
    * mass is NOT redistributed (the variant every fixed-point SQL
    * formulation uses); ranks are comparable, not normalized to 1.
    *
    * Fixed iterations (not convergence) keep the result a pure function
    * of (edges, iters) — replayable, and expressible as `iters` chained
    * CTEs in any SQL engine for cross-checking. 3–5 iterations already
    * separate hubs from leaves, which is all the boilerplate screen
    * needs.
    *
    * Scale shape: per iteration ONE edge-key join (edges ⋈ ranks, both
    * partitioned by src) and ONE hash aggregation on dst — the textbook
    * message-passing round; the rank frame is node-sized, degrees are
    * computed once. The edge frame is checkpointed ONCE up front (it
    * feeds the degree pass, the node pass, and every iteration's message
    * join; left lazy, the caller's candidate plan would be re-embedded
    * under each of those ~`iters`+2 references, which measured as 4–7×
    * anti-scaling at wide sessions on q169), and its row count picks the
    * [[Loop]] layout; the rounds themselves stay one lazy fixed-depth
    * plan, run at the caller's action. Result values are a pure function
    * of (edges, iters, dampPct) either way.
    */
  def pageRankInt(edges: DataFrame, srcCol: String, dstCol: String,
                  iters: Int = 3, dampPct: Int = 85): DataFrame = {
    require(iters >= 1 && iters <= 10,
      s"iters must be in [1,10] (fixed-depth plan), got $iters")
    require(dampPct >= 1 && dampPct <= 99, s"dampPct must be in [1,99], got $dampPct")
    val base = (1000000L * (100 - dampPct)) / 100  // 150_000 at damp 85
    val eChk = Loop.checkpoint(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")))
    Loop(eChk.count()) { loop =>
      val e = loop.pin(eChk)
      val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val nodes = loop.pin(e.select(col("src").as("id"))
        .unionByName(e.select(col("dst").as("id")))).distinct()
      var p = nodes.withColumn("p", lit(1000000L))
      for (_ <- 1 to iters) {
        val inflow = e.join(deg, Seq("src"))
          .join(p.withColumnRenamed("id", "src"), Seq("src"))
          .select(col("dst").as("id"), expr("p DIV deg").as("__c"))
          .groupBy(col("id")).agg(sum(col("__c")).as("__in"))
        p = nodes.join(inflow, Seq("id"), "left")
          .select(col("id"),
            (lit(base) + expr(s"($dampPct * coalesce(__in, 0L)) DIV 100"))
              .as("p"))
      }
      p
    }
  }

  /** Exact per-node triangle count over an undirected edge frame — the
    * community-density readout beside [[pageRankInt]]'s centrality: on
    * the near-dup candidate graph, high triangle counts mark template
    * CLIQUES (every page of a boilerplate family pairs with every
    * other), where pageRank's hubs can also be stars.
    *
    * Algorithm: compact-forward with DEGREE orientation. Each
    * undirected edge is oriented from its lower-(degree, id) endpoint
    * to the higher; wedges are pairs of out-edges sharing a source with
    * the tie-broken rank order enforced; a wedge is a triangle iff its
    * closing pair is itself an oriented edge. Orientation bounds every
    * node's out-degree by O(√m) on any graph, so the wedge fan-out —
    * the only super-linear term — is O(m^1.5) worst-case instead of
    * Σdeg² (a single celebrity hub never explodes the join). Total
    * order (degree, id) makes the orientation, and hence the plan, a
    * pure function of the edge set — engine-exact and replayable.
    *
    * Scale shape: canonicalize+distinct (one shuffle), a node-sized
    * degree aggregation joined back twice, one self-join on the wedge
    * source, one edge-keyed closing join, one explode+count. No
    * iteration, no driver state; every join key is a node or node-pair.
    */
  def triangles(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val und = edges
      .select(least(col(srcCol), col(dstCol)).as("lo"),
        greatest(col(srcCol), col(dstCol)).as("hi"))
      .filter(col("lo") =!= col("hi"))
      .distinct()
    val deg = und.select(col("lo").as("id"))
      .unionByName(und.select(col("hi").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val withDeg = und
      .join(deg.select(col("id").as("lo"), col("deg").as("d_lo")), Seq("lo"))
      .join(deg.select(col("id").as("hi"), col("deg").as("d_hi")), Seq("hi"))
    val loFirst = struct(col("d_lo"), col("lo")) < struct(col("d_hi"), col("hi"))
    val oriented = withDeg.select(
      when(loFirst, col("lo")).otherwise(col("hi")).as("src"),
      when(loFirst, col("hi")).otherwise(col("lo")).as("dst"),
      when(loFirst, col("d_hi")).otherwise(col("d_lo")).as("d_dst"))
    val e2 = oriented.select(col("src"), col("dst").as("dst2"),
      col("d_dst").as("d_dst2"))
    val wedges = oriented.join(e2, Seq("src"))
      .filter(struct(col("d_dst"), col("dst")) <
        struct(col("d_dst2"), col("dst2")))
      .select(col("src").as("u"), col("dst").as("v"), col("dst2").as("w"))
    val closing = oriented.select(col("src").as("v"), col("dst").as("w"))
    val tri = wedges.join(closing, Seq("v", "w"))
    tri.select(explode(array(col("u"), col("v"), col("w"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_triangles"))
  }

  /** Hierarchy flattening: the transitive ANCESTOR closure of a
    * parent-pointer forest — (node, ancestor, dist) for every ancestor
    * up to `maxDepth` levels — the dimension-hierarchy explode every
    * warehouse needs (org charts, ledger account trees, category
    * taxonomies) to answer "roll this fact up to ANY level" with one
    * equi-join instead of a recursive query at read time.
    *
    * Pointer DOUBLING, not level-at-a-time walking: round k composes
    * the closure-so-far with itself (`a.ancestor = b.node`, dist sums),
    * so covered depth doubles per round — ⌈log₂ maxDepth⌉ self-joins
    * instead of maxDepth chained joins. Each round is a [[Loop]] round
    * at session width. In a forest the node→ancestor path is unique, so
    * the per-round `distinct` just collapses the d₁+d₂ split
    * multiplicity; the fixed round count also bounds the damage of an
    * accidental cycle — document-and-audit, never hang.
    *
    * Scale: each round is one hash equi-join on node ids + a distinct,
    * output bounded by nodes × maxDepth (a hierarchy's closure size),
    * all shuffles keyed by node id.
    */
  def ancestors(edges: DataFrame, childCol: String, parentCol: String,
                maxDepth: Int = 32): DataFrame = {
    require(maxDepth >= 1 && maxDepth <= 1024,
      s"maxDepth must be in [1,1024], got $maxDepth")
    Loop.wide { loop =>
      var anc = loop.round(edges
        .select(col(childCol).as("node"), col(parentCol).as("ancestor"),
          lit(1L).as("dist"))
        .filter(col("node").isNotNull && col("ancestor").isNotNull)
        .distinct())
      var covered = 1
      while (covered < maxDepth) {
        val b = anc.select(col("node").as("__mid"),
          col("ancestor").as("__anc2"), col("dist").as("__d2"))
        val composed = anc.join(b, col("ancestor") === col("__mid"))
          .select(col("node"), col("__anc2").as("ancestor"),
            (col("dist") + col("__d2")).as("dist"))
          .filter(col("dist") <= maxDepth)
        anc = loop.round(anc.unionByName(composed).distinct())
        covered *= 2
      }
      anc
    }
  }
}
