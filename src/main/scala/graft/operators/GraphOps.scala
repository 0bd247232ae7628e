package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.api.Caches

/** Distributed graph primitives shared by the dedup pipelines.
  *
  * A near-dup pipeline's last step is graph-shaped: candidate PAIRS from
  * LSH banding (text shingles or embedding hyperplanes) must collapse
  * into GROUPS before a keep-list can be cut. Both `dedup_groups` (text)
  * and `embed_dedup_groups` (vectors) funnel into this one component
  * finder.
  */
object GraphOps {

  /** Connected components over an undirected pair list: every node that
    * appears in `pairs` labeled with the MINIMUM node id reachable from
    * it. Returns (node_id, group_id); nodes absent from `pairs` are the
    * caller's to label (they are singletons — joining the full corpus
    * through here would shuffle it for nothing).
    *
    * Min-label propagation with pointer doubling to fixpoint: each round
    * (a) joins the edge list with the current labels and takes the
    * per-node min, then (b) path-halves — relabels every node through
    * its label's own label (`label(d) := label(label(d))`, always ≤ the
    * current label because labels start as self and only decrease, and
    * always inside the component because labels only travel along
    * edges). (a) alone converges in O(component diameter) rounds at a
    * FIXED per-round shuffle + job-launch cost, which is exactly what a
    * long dup chain turns into a crawl; (b) compresses paths
    * geometrically, so the loop converges in O(log diameter) rounds on
    * any graph shape. The only driver actions are one metadata-sized
    * convergence count per round — labels only ever DECREASE, so
    * `new < old` counts exactly the changed rows.
    *
    * Each round's labels are `localCheckpoint(eager=true)`d, NOT merely
    * persisted: an iterative DataFrame loop otherwise nests every prior
    * round's logical plan inside the next (twice here, via the
    * self-join), so the ANALYZED tree grows exponentially and Catalyst's
    * analyze/optimize/cache-match time — not the tiny shuffles —
    * dominates (round-6 bench: 56.7 s for a 3-round loop over ~900 label
    * rows). Checkpointing truncates the lineage to a leaf LogicalRDD,
    * making per-round plan size constant. When the session has a
    * RELIABLE checkpoint dir configured
    * (`spark.sparkContext.setCheckpointDir`, i.e. a real cluster where
    * executor loss under dynamic allocation would take localCheckpoint
    * blocks with it), rounds checkpoint there instead — same lineage
    * truncation, fault-tolerant storage. Each round's cut is
    * `graft.api.Caches.checkpoint`, so the enclosing scoped build's
    * release drops its blocks (unscoped, the harness's per-query
    * `Caches.release` sweep does).
    */
  /** Edge-count ceiling for the driver-local union-find fast path
    * (overridable via `spark.graft.cc.localMaxEdges`; set ≤ -1 to force
    * the distributed loop). 1M edges ≈ 16 MB collected — trivially
    * driver-sized, and a path-compressed union-find labels it in
    * milliseconds, where the distributed fixpoint pays several
    * fixed-latency Spark jobs per round no matter how small the data.
    * This is the same adaptivity argument as AQE's local-shuffle-reader:
    * pick the physical strategy AFTER the size is known. At 100 TB the
    * candidate-pair graph of a near-dup corpus exceeds the ceiling and
    * takes the checkpointed fixpoint loop below. */
  private val LocalMaxEdgesDefault = 1000000L

  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    // Both directions AND self-loops in ONE scan of the (possibly
    // expensive, likely unpersisted) pair pipeline — a union of selects
    // would run it per branch. Self-loops make the per-node min include
    // the node's OWN current label, so each round is one join+aggregate
    // with no union of the label set into itself (a `unionByName` whose
    // branches share attribute ids — one side checkpointed, the other
    // derived from the same labels frame — trips Catalyst's Union
    // constraint rewrite).
    val edges = pairs.select(explode(array(
        struct(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst")),
        struct(col(bCol).cast("long").as("src"), col(aCol).cast("long").as("dst")),
        struct(col(aCol).cast("long").as("src"), col(aCol).cast("long").as("dst")),
        struct(col(bCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))))
        .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
      .transform(Caches.persist)
    val edgeCount = edges.count()
    val localMax = graft.api.GraftConfig.getLong(pairs.sparkSession,
      "spark.graft.cc.localMaxEdges", LocalMaxEdgesDefault)
    if (edgeCount <= localMax) {
      val labels = localUnionFind(edges.collect().map(r => (r.getLong(0), r.getLong(1))))
      Caches.dropTransient(edges, blocking = true)
      val spark = pairs.sparkSession
      import spark.implicits._
      return labels.toSeq.toDF("node_id", "group_id")
    }
    // DISTRIBUTED branch only (r19 — r18 ran this before the size gate,
    // charging every bench-scale CC consumer a shuffle the local
    // union-find path never reads): re-persist the edge list
    // PRE-PARTITIONED on the per-round join key (guide §2.4) — every
    // fixpoint round joins edges⋈labels on src, and the cached
    // hashpartitioning(src) satisfies that distribution, so one
    // build-time exchange replaces one edge-list exchange per round
    // (the distinct's (src, dst) partitioning never matches the
    // src-only key).
    val edgesP = edges.repartition(col("src"))
      .transform(Caches.materialize)
    Caches.dropTransient(edges, blocking = true)
    // Initial labels ARE the first propagation hop (min direct neighbor,
    // self included via the self-loops) — same one-job cost as a
    // label=self seed, one full round cheaper. Self-loops put every
    // endpoint in both `src` and `dst`.
    var labels = edgesP
      .groupBy(col("dst").as("node_id"))
      .agg(min(col("src")).as("group_id"))
      .transform(Caches.checkpoint)
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < 100) {
      val hop = edgesP.join(labels, edgesP("src") === labels("node_id"))
        .groupBy(col("dst").as("node_id"))
        .agg(min(col("group_id")).as("group_id"))
      // pointer doubling: jump through the label's own label (pg ≤ the
      // current label because labels start as self and only decrease);
      // left_outer because a component-min label labels itself. The two
      // `hop` branches share one shuffle via ReuseExchange. `old_group`
      // rides along into the checkpoint so the convergence check below
      // is a scan-count of the checkpointed leaf, not another join job.
      val next = hop.as("l")
        .join(hop.select(col("node_id").as("pid"), col("group_id").as("pg")).as("p"),
          col("l.group_id") === col("pid"), "left_outer")
        .select(col("l.node_id").as("node_id"),
          coalesce(col("pg"), col("l.group_id")).as("group_id"))
        .join(labels.select(col("node_id"), col("group_id").as("old_group")),
          Seq("node_id"))
        .transform(Caches.checkpoint)
      changed = next.filter(col("group_id") < col("old_group")).count()
      labels = next.select(col("node_id"), col("group_id"))
      rounds += 1
    }
    // labels is a projection over a checkpointed leaf — it no longer
    // references the edge list
    Caches.dropTransient(edgesP, blocking = true)
    labels
  }

  /** Incrementally merge a DELTA edge list into EXISTING min-label
    * components (r17 verdict item 6) — the production maintenance move
    * for continuously-ingested dedup groups: instead of recomputing CC
    * over the whole corpus when a batch lands, contract each delta edge
    * to its endpoints' current representatives and run CC only over the
    * CONTRACTED graph, whose size tracks the components the delta
    * TOUCHES, never the corpus.
    *
    * `labels` is the existing (node_id, group_id) assignment with
    * group_id = MIN member id of the component (exactly what
    * [[connectedComponents]] emits); nodes absent from `labels` are
    * implicit singletons (their own representative) — the same contract
    * as the full-recompute path, where singletons never enter the loop.
    * Returns updated (node_id, group_id) covering every node in `labels`
    * plus every delta endpoint.
    *
    * BIT-EQUAL to a full recompute over the edge UNION, by construction:
    * each old group_id IS its component's min member, so the contracted
    * graph's min-label CC computes, for every touched representative,
    * min(old component mins ∪ delta-only node ids) = the union graph's
    * min member; untouched components keep their labels verbatim. The
    * dedup_groups_incremental oracle states the FULL recompute while the
    * engine runs this delta path — the gate proves the equality on real
    * data, and GraphOpsSpec proves it over multi-wave merges.
    *
    * Scale shape: two key-hashed joins of the delta against the label
    * table (delta-sized shuffle of `labels`' partitions it touches), one
    * CC over the contracted delta (touched-component-sized — the
    * size-adaptive local/distributed split inside [[connectedComponents]]
    * applies), one labels-sized join to re-point touched groups, one
    * delta-sized anti-join for first-seen nodes. Nothing corpus-sized
    * beyond the one pass over `labels`. */
  def incrementalComponents(labels: DataFrame, deltaPairs: DataFrame,
      aCol: String, bCol: String): DataFrame = {
    val l = labels.select(col("node_id").cast("long").as("node_id"),
      col("group_id").cast("long").as("group_id"))
    val delta = deltaPairs.select(col(aCol).cast("long").as("a"),
      col(bCol).cast("long").as("b"))
    // contract: each endpoint -> its current representative (self when
    // unlabeled — a first-seen node or an old singleton)
    val contracted = delta
      .join(l.select(col("node_id").as("a"), col("group_id").as("ra")),
        Seq("a"), "left_outer")
      .join(l.select(col("node_id").as("b"), col("group_id").as("rb")),
        Seq("b"), "left_outer")
      .select(coalesce(col("ra"), col("a")).as("ra"),
        coalesce(col("rb"), col("b")).as("rb"))
    // CC over representatives only: every rep's new root is the min
    // member of the merged component (old group ids are min members;
    // unlabeled endpoints represent themselves)
    val repRoots = connectedComponents(contracted, "ra", "rb")
      .select(col("node_id").as("rep"), col("group_id").as("new_root"))
      .transform(Caches.materialize)
    // re-point members of touched components; untouched keep labels
    val updatedOld = l
      .join(repRoots.withColumnRenamed("rep", "group_id"), Seq("group_id"), "left_outer")
      .select(col("node_id"),
        coalesce(col("new_root"), col("group_id")).as("group_id"))
    // endpoints seen for the first time in this delta (they were their
    // own rep inside the contracted CC)
    val firstSeen = delta
      .select(explode(array(col("a"), col("b"))).as("node_id")).distinct()
      .join(l.select(col("node_id")), Seq("node_id"), "left_anti")
      .join(repRoots.withColumnRenamed("rep", "node_id"), Seq("node_id"), "left_outer")
      .select(col("node_id"),
        coalesce(col("new_root"), col("node_id")).as("group_id"))
    updatedOld.unionByName(firstSeen)
  }

  /** Driver-side min-label union-find (iterative find + full path
    * compression — a 10^6-node chain must not blow the stack). Attaching
    * the larger root under the smaller means every component's final
    * root IS its min member, matching the distributed loop's labels
    * exactly. Self-loop edges (present by construction above) guarantee
    * every node appears as a `src`. */
  private def localUnionFind(edges: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.map(_._1).distinct.map(n => n -> find(n)).toMap
  }

  // --------------------------------------------------------- PageRank
  /** Fixed iteration count: the query is a deterministic benchmark of
    * the iterative-numeric shape, not a convergence study. */
  private[graft] val PagerankIters = 3
  private[graft] val PagerankTopK = 20

  /** Distributed PageRank (damping 0.85, [[PagerankIters]] synchronous
    * iterations) over the undirected part↔supplier co-occurrence graph
    * from lineitem — nodes are 2·partkey (parts) and 2·suppkey+1
    * (suppliers) so the two key spaces cannot collide. The iterative
    * NUMERIC fixpoint complement to [[connectedComponents]]' label
    * fixpoint.
    *
    * Determinism across engines: the ENTIRE loop is integer fixed-point
    * in units of 10⁻¹² — init = 10¹² DIV N, contribution = pr DIV
    * outdeg, update = (0.15·10¹²) DIV N + (85·Σ) DIV 100 — so every
    * step is exact integer arithmetic, order-independent under any
    * shuffle, and bit-identical to DuckDB's `//`. (A first cut rounded
    * doubles to 12 dp instead; Spark's BigDecimal-HALF_UP round and
    * DuckDB's multiply-based round disagreed in the last digit on the
    * very first corpus tried. Floats have no business inside an
    * iterative fixpoint that must hash-match.) The DIV truncation leaks
    * ≤ outdeg·10⁻¹² of mass per node per round — bounded and identical
    * in both engines. N arrives via a broadcast one-row aggregate,
    * never a driver action.
    *
    * Scale shape: per iteration, one hash join of ranks against the
    * (persisted) edge list and one map-side-combined sum on dst —
    * the aggregateMessages pattern. Ranks are lineage-truncated every
    * round (same rationale as the CC loop: nested iterative plans
    * otherwise grow exponentially). Top-k is TakeOrderedAndProject. */
  def pagerank(spark: org.apache.spark.sql.SparkSession, sfDir: String): DataFrame = {
    val li = graft.model.Tables.lineitem(spark, sfDir)
    val und = li.select((col("l_partkey") * 2).as("src"),
      (col("l_suppkey") * 2 + 1).as("dst")).distinct()
    val edges = und.union(und.select(col("dst").as("src"), col("src").as("dst")))
      .transform(Caches.materialize)
    // disjoint column names per role — outdeg/nodes/sums all descend
    // from `edges`, and df("col") references across shared lineage trip
    // DetectAmbiguousSelfJoin
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      .select(col("src").as("deg_node"), col("outdeg"))
    // outdeg is static across iterations — join it into the edge list
    // ONCE so each round pays a single rank⋈edge join instead of
    // rank⋈outdeg⋈edge (one fewer shuffle join per iteration; on a
    // cluster the persisted edge partitioning is also reused verbatim
    // every round)
    // persisted PRE-PARTITIONED on the per-round join key (r18
    // optimization round, guide §2.4): the cached hashpartitioning(
    // edge_src) satisfies the rank⋈edge join's distribution every
    // iteration, so each round shuffles only the (node, rank) frame —
    // one build-time exchange replaces one edge-list exchange per
    // iteration
    val edgesDeg = edges
      .join(outdeg, col("src") === col("deg_node"))
      .select(col("src").as("edge_src"), col("dst"), col("outdeg"))
      .repartition(col("edge_src"))
      .transform(Caches.materialize)
    val nodes = Caches.persist(edges.select(col("src").as("node_id")).distinct())
    val nA = nodes.agg(count(lit(1)).as("n"))
    var pr = nodes.crossJoin(broadcast(nA))
      .select(col("node_id"), expr("1000000000000L DIV n").as("pr"))
    for (_ <- 1 to PagerankIters) {
      val contrib = pr
        .join(edgesDeg, col("node_id") === col("edge_src"))
        .select(col("dst"), expr("pr DIV outdeg").as("c"))
      // The edge list is symmetric by construction (und ∪ reversed und),
      // so EVERY node appears as a dst and receives ≥1 contribution:
      // the old per-iteration `nodes LEFT JOIN sums` was row-for-row the
      // identity (no null `s` can exist) — one redundant shuffle join per
      // iteration removed (r18 optimization round, guide §2.4). The
      // oracle still states the LEFT JOIN form; values are identical
      // because the join never manufactured a row.
      // NO per-iteration truncate (r18 optimization round): the
      // exponential-plan-growth hazard that forces eager checkpoints in
      // the CC/LPA/k-core loops comes from MULTI-reference rounds (the
      // round's frame consumed twice nests its plan twice); pagerank's
      // rank frame is consumed exactly ONCE per iteration, so the
      // un-truncated plan is depth-linear in the FIXED 3 iterations and
      // the whole fixpoint runs as one job — three intermediate
      // materialization jobs (32 block-writes each) removed.
      pr = contrib.groupBy(col("dst")).agg(sum(col("c")).as("s"))
        .crossJoin(broadcast(nA))
        .select(col("dst").as("node_id"),
          expr("150000000000L DIV n + (85 * s) DIV 100").as("pr"))
    }
    pr.select(col("node_id"),
        when(col("node_id") % 2 === 0, "part").otherwise("supp").as("kind"),
        col("pr").as("pr_e12"))
      .orderBy(col("pr_e12").desc, col("node_id"))
      .limit(PagerankTopK)
  }

  // --------------------------------------------------- Triangle count
  /** Distributed triangle counting over the MinHash-LSH near-dup pair
    * graph — the graph-structure complement to [[connectedComponents]]:
    * CC tells a dedup pipeline how many GROUPS it has; the triangle
    * count (vs edge count) tells it how CLIQUE-LIKE the groups are
    * (true duplicate clusters are cliques, band-collision noise is
    * tree-like), which is the standard cheap diagnostic before cutting
    * a keep-list.
    *
    * Algorithm: degree-ordered edge orientation (Suri &
    * Vassilvitskii's MR triangle counting / Chiba–Nishizeki): orient
    * every undirected edge from its (degree, id)-smaller endpoint to
    * the larger, enumerate wedges by self-joining oriented edges on
    * the source, and close each wedge with a hash join back against
    * the oriented edge list. Orientation caps per-node out-degree at
    * O(√m) on any graph, so the wedge join — the only superlinear
    * step — is O(m^1.5) worst case instead of Σdeg² (the "curse of the
    * last reducer": one hub node otherwise owns almost all wedges).
    * Every step is a hash join or aggregation on key columns — no
    * cross join, no driver-side adjacency — so the plan scales with
    * shuffle capacity at 100 TB. Each triangle {a<b<c} (order by
    * (deg, id)) is counted exactly once: as the wedge b←a→c closed by
    * the oriented edge b→c. */
  def triangleCount(spark: org.apache.spark.sql.SparkSession, sfDir: String): DataFrame =
    triangleCountOf(TextOps.candidatePairs(spark, sfDir))

  /** Counting core over an arbitrary undirected pair list (`doc_a` <
    * `doc_b`, already distinct) — separated so the spec can drive it
    * with known-triangle graphs. */
  private[graft] def triangleCountOf(pairsIn: DataFrame): DataFrame = {
    // one persisted pair base feeds degrees, orientation, and the edge
    // count (the file-family one-base-per-query rule)
    val pairs = Caches.persist(pairsIn)
    // NO eager count on pairs (r19 job-floor audit): deg's count below
    // reads pairs exactly once, so one job populates both caches; the
    // later wedge/orientation consumers then read the cache.
    val deg = pairs.select(explode(array(col("doc_a"), col("doc_b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .transform(Caches.materialize)
    // orient by (deg, id): lower endpoint → higher endpoint
    val aLower = col("da") < col("db") || (col("da") === col("db") && col("doc_a") < col("doc_b"))
    val oriented = pairs
      .join(deg.select(col("node").as("na"), col("deg").as("da")), col("na") === col("doc_a"))
      .join(deg.select(col("node").as("nb"), col("deg").as("db")), col("nb") === col("doc_b"))
      .select(when(aLower, col("doc_a")).otherwise(col("doc_b")).as("u"),
        when(aLower, col("doc_b")).otherwise(col("doc_a")).as("v"))
    // destination order key rides along so the wedge join can order its
    // two legs without another degree join; eager persist — the wedge
    // self-join consumes ek twice in one job
    // persisted PRE-PARTITIONED on the wedge join key `u` (r18
    // optimization round, guide §2.4): the wedge enumeration self-joins
    // ek on u, and the cached hashpartitioning(u) satisfies BOTH sides'
    // required distribution — the wedge join runs exchange-free instead
    // of shuffling the oriented edge list into it
    val ek = oriented
      .join(deg.select(col("node").as("nv"), col("deg").as("vdeg")), col("nv") === col("v"))
      .select(col("u"), col("v"), col("vdeg"))
      .repartition(col("u"))
      .transform(Caches.materialize)
    val legOrder = col("e1.vdeg") < col("e2.vdeg") ||
      (col("e1.vdeg") === col("e2.vdeg") && col("e1.v") < col("e2.v"))
    val tri = ek.as("e1")
      .join(ek.as("e2"), col("e1.u") === col("e2.u") && legOrder)
      .select(col("e1.v").as("w1"), col("e2.v").as("w2"))
      .join(ek.select(col("u").as("cu"), col("v").as("cv")),
        col("cu") === col("w1") && col("cv") === col("w2"))
      .agg(count(lit(1)).as("n_triangles"))
    // one-row graph summary; the three aggregates are metadata-sized
    // and broadcast, so the joins are nested-loop over single rows,
    // never a partitioned cartesian
    deg.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(broadcast(pairs.agg(count(lit(1)).as("n_edges"))))
      .crossJoin(broadcast(tri))
  }

  /** Synchronous label-propagation rounds run by [[labelPropagation]]. */
  private[operators] val LpaRounds = 3

  /** Community detection by synchronous LABEL PROPAGATION
    * (Raghavan et al.) over the MinHash-LSH candidate-pair graph — the
    * third member of the graph family (pagerank = centrality,
    * triangle_count = cohesion, LPA = community structure): every node
    * starts as its own label, and each round adopts the most frequent
    * label among its neighbors (ties to the smallest label — the
    * determinism LPA normally lacks), isolated nodes keeping their own.
    * [[LpaRounds]] fixed synchronous rounds, exactly the
    * Pregel/GraphX formulation: per round an edge-keyed join +
    * map-side-combinable (node, label) count + a per-node rank window,
    * the round's labels lineage-truncated so plan size stays constant
    * however many rounds a caller asks for — no driver collect
    * anywhere, every step keyed and shuffle-scalable at 100 TB.
    * Output: (doc_id, community, community_size) for EVERY doc —
    * clone families collapse to their min doc_id, singletons stay
    * themselves. */
  def labelPropagation(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): DataFrame =
    labelPropagationOf(TextOps.candidatePairs(spark, sfDir),
      graft.model.Tables.documents(spark, sfDir)
        .select(col("doc_id").as("node")))

  /** LPA core over an arbitrary pair list + node universe — separated
    * so the spec can drive it with known-community graphs and a caller
    * can raise `rounds` past the query surface's fixed [[LpaRounds]].
    * Each round's labels are lineage-TRUNCATED (the pagerank/CC
    * discipline — round-12 verdict #2): without it every round nests
    * the previous round's plan inside the next and Catalyst's
    * analyze/optimize time grows with the round count, not the data;
    * with it the per-round analyzed plan is constant-size
    * (GraphOpsSpec pins the node count flat across round counts), so
    * raising `rounds` costs rounds × a fixed shuffle set and nothing
    * else. */
  private[graft] def labelPropagationOf(pairsIn: DataFrame,
      nodes: DataFrame, rounds: Int = LpaRounds): DataFrame = {
    val pairs = Caches.materialize(pairsIn)
    // The directed edge list is static across rounds: persist it
    // PRE-PARTITIONED on the join key `u` (r18 optimization round,
    // guide §2.4 — the pagerank/CC discipline), so each round's
    // edge⋈label join shuffles only the label frame, never the 2|E|
    // edge rows again.
    val ed = pairs.select(col("doc_a").as("v"), col("doc_b").as("u"))
      .unionByName(pairs.select(col("doc_b").as("v"), col("doc_a").as("u")))
      .repartition(col("u"))
      .transform(Caches.materialize)
    var labels = nodes.select(col("node"), col("node").as("lbl"))
    for (_ <- 1 to rounds) {
      val nb = ed.join(labels.select(col("node").as("u"), col("lbl").as("ulbl")),
          Seq("u"))
        .groupBy(col("v"), col("ulbl")).agg(count(lit(1)).as("c"))
      // rank-1 as a MIN-STRUCT aggregate, not a row_number window (r18
      // optimization round): min(struct(-c, ulbl)) is exactly "count
      // desc, label asc" — the same winner per node — but it partial-
      // aggregates map-side and never sorts whole partitions, where the
      // window paid a second exchange (v vs the groupBy's (v, ulbl))
      // PLUS a per-partition sort every round.
      val best = nb.groupBy(col("v").as("node"))
        .agg(min(struct((col("c") * -1).as("negc"), col("ulbl"))).as("s"))
        .select(col("node"), col("s.ulbl").as("nlbl"))
      labels = labels.join(best, Seq("node"), "left")
        .select(col("node"), coalesce(col("nlbl"), col("lbl")).as("lbl"))
        .transform(Caches.checkpoint)
    }
    val sizes = labels.groupBy("lbl").agg(count(lit(1)).as("community_size"))
    labels.join(sizes, Seq("lbl"))
      .select(col("node").as("doc_id"), col("lbl").as("community"),
        col("community_size"))
      .orderBy("doc_id")
  }

  /** k-core threshold and peel rounds for the query surface. */
  private[graft] val KCoreK = 2
  private[graft] val KCoreRounds = 4

  /** k-core decomposition (k = [[KCoreK]], [[KCoreRounds]] synchronous
    * peel rounds) over the LSH candidate-pair graph — the fourth
    * graph-family member (centrality / cohesion / community / CORE):
    * iteratively strip nodes of degree < k; what survives is the
    * graph's dense backbone, the standard "which dup clusters are load-
    * bearing vs band-collision fuzz" cut. Bounded-round semantics, the
    * LPA discipline: the result is DEFINED as the state after exactly
    * [[KCoreRounds]] peels (the true core is the fixpoint; each round
    * strictly shrinks the graph, and the spec drives the core to
    * fixpoint on a fixture to show 4 rounds suffice there).
    *
    * Scale shape: per round ONE degree aggregate (explode + map-side-
    * combined count) and two semi-joins back on the edge list — all
    * key-keyed hash joins, no adjacency materialization, per-round
    * lineage truncated (the pagerank/CC/LPA discipline). At 100 TB each
    * round is a fixed shuffle set over a shrinking edge list. */
  def kCore(spark: org.apache.spark.sql.SparkSession, sfDir: String): DataFrame =
    kCoreOf(TextOps.candidatePairs(spark, sfDir))

  /** Peel core over an arbitrary pair list — separated so the spec can
    * drive it with known-core graphs and to fixpoint. */
  private[graft] def kCoreOf(pairsIn: DataFrame, k: Int = KCoreK,
      rounds: Int = KCoreRounds): DataFrame = {
    val initial = Caches.materialize(pairsIn.select(col("doc_a"), col("doc_b")))
    var edges = initial
    for (_ <- 1 to rounds) {
      val keep = edges
        .select(explode(array(col("doc_a"), col("doc_b"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
      edges = Caches.checkpoint(edges
        .join(keep.select(col("node").as("ka")),
          col("doc_a") === col("ka"), "left_semi")
        .join(keep.select(col("node").as("kb")),
          col("doc_b") === col("kb"), "left_semi"))
    }
    if (edges ne initial) Caches.dropTransient(initial)
    edges
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("core_degree"))
      .orderBy("doc_id")
  }

  /** Degree HISTOGRAM of the LSH candidate graph: for every degree d,
    * how many nodes have exactly d candidate neighbors — the structural
    * health read of the dedup graph (a heavy tail says hub documents or
    * band-collision fuzz are about to blow the pair joins; the
    * `lsh_bucket_profile` twin at NODE grain instead of bucket grain).
    *
    * Determinism: pure integer counts. Scale shape: one explode + two
    * map-side-combined aggregates; output is degree-domain-sized
    * (bounded by the max candidate degree, not the corpus). */
  def degreeDistribution(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): DataFrame =
    degreeDistributionOf(TextOps.candidatePairs(spark, sfDir))

  private[graft] def degreeDistributionOf(pairs: DataFrame): DataFrame =
    pairs.select(explode(array(col("doc_a"), col("doc_b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
      .orderBy("degree")

  val queries: Map[String, (org.apache.spark.sql.SparkSession, String) => DataFrame] = Map(
    "pagerank" -> (pagerank _),
    "triangle_count" -> (triangleCount _),
    "label_prop_communities" -> (labelPropagation _),
    "degree_distribution" -> (degreeDistribution _),
    "k_core" -> (kCore _))

  /** DuckDB oracle: the three iterations unrolled as CTEs, stating the
    * identical integer fixed-point chain (`//` = Spark's `DIV`; both
    * truncate, and every operand is non-negative). */
  val oracles: Map[String, String] = {
    def iter(i: Int): String = {
      val prev = s"p${i - 1}"
      s"""c$i AS (SELECT e.dst, p.pr // od.outdeg AS c
        | FROM $prev p JOIN od ON od.src = p.node_id JOIN e ON e.src = p.node_id),
        |s$i AS (SELECT dst, CAST(sum(c) AS BIGINT) AS s FROM c$i GROUP BY dst),
        |p$i AS MATERIALIZED (SELECT nd.node_id,
        |  150000000000 // n.n + (85 * coalesce(s$i.s, 0)) // 100 AS pr
        | FROM nd LEFT JOIN s$i ON s$i.dst = nd.node_id, n)""".stripMargin
    }
    Map(
      "degree_distribution" ->
        s"""WITH ${TextOps.candCtesSql},
          |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
          |  SELECT doc_a AS node FROM cand
          |  UNION ALL SELECT doc_b AS node FROM cand) v GROUP BY node)
          |SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
          |FROM deg GROUP BY degree ORDER BY degree""".stripMargin,
      // same degree-ordered orientation stated in SQL: every CASE and
      // join mirrors the Spark plan, so the count is structural, not
      // engine-dependent (all arithmetic is integer)
      "triangle_count" ->
        s"""WITH ${TextOps.candCtesSql},
          |deg AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
          |  SELECT doc_a AS node FROM cand
          |  UNION ALL SELECT doc_b AS node FROM cand) allv GROUP BY node),
          |e AS MATERIALIZED (SELECT
          |  CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND c.doc_a < c.doc_b)
          |   THEN c.doc_a ELSE c.doc_b END AS u,
          |  CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND c.doc_a < c.doc_b)
          |   THEN c.doc_b ELSE c.doc_a END AS v
          | FROM cand c JOIN deg da ON da.node = c.doc_a JOIN deg db ON db.node = c.doc_b),
          |ek AS MATERIALIZED (SELECT e.u, e.v, dv.deg AS vdeg FROM e JOIN deg dv ON dv.node = e.v),
          |tri AS (SELECT count(*) AS n_triangles FROM ek e1
          | JOIN ek e2 ON e1.u = e2.u
          |  AND (e1.vdeg < e2.vdeg OR (e1.vdeg = e2.vdeg AND e1.v < e2.v))
          | JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v)
          |SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
          | (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_edges,
          | n_triangles
          |FROM tri""".stripMargin,
      "pagerank" ->
      s"""WITH e0 AS (SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst FROM lineitem),
        |e AS MATERIALIZED (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
        |od AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
        |nd AS MATERIALIZED (SELECT DISTINCT src AS node_id FROM e),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nd),
        |p0 AS MATERIALIZED (SELECT node_id, 1000000000000 // n.n AS pr FROM nd, n),
        |${(1 to PagerankIters).map(iter).mkString(",\n")}
        |SELECT node_id,
        | CASE WHEN node_id % 2 = 0 THEN 'part' ELSE 'supp' END AS kind,
        | CAST(pr AS BIGINT) AS pr_e12
        |FROM p$PagerankIters ORDER BY pr_e12 DESC, node_id LIMIT $PagerankTopK""".stripMargin,
      // the synchronous rounds unrolled as CTEs (the pagerank/kmeans
      // discipline): per round a neighbor-label count + per-node rank-1
      // window (count desc, label asc) + LEFT-join fallback for
      // isolated nodes
      "label_prop_communities" -> {
        def lpaIter(i: Int): String =
          s"""nb$i AS (SELECT ed.v, l.lbl, count(*) AS c
            | FROM ed JOIN l${i - 1} l ON l.node = ed.u GROUP BY ed.v, l.lbl),
            |b$i AS (SELECT v, lbl FROM (SELECT v, lbl,
            |  row_number() OVER (PARTITION BY v ORDER BY c DESC, lbl) AS rn
            | FROM nb$i) t WHERE rn = 1),
            |l$i AS MATERIALIZED (SELECT l.node, coalesce(b.lbl, l.lbl) AS lbl
            | FROM l${i - 1} l LEFT JOIN b$i b ON b.v = l.node)""".stripMargin
        s"""WITH ${TextOps.candCtesSql},
          |ed AS MATERIALIZED (SELECT doc_a AS v, doc_b AS u FROM cand
          | UNION ALL SELECT doc_b AS v, doc_a AS u FROM cand),
          |l0 AS MATERIALIZED (SELECT doc_id AS node, doc_id AS lbl FROM documents),
          |${(1 to LpaRounds).map(lpaIter).mkString(",\n")},
          |sz AS (SELECT lbl, CAST(count(*) AS BIGINT) AS community_size
          | FROM l$LpaRounds GROUP BY lbl)
          |SELECT l.node AS doc_id, l.lbl AS community, sz.community_size
          |FROM l$LpaRounds l JOIN sz ON sz.lbl = l.lbl
          |ORDER BY doc_id""".stripMargin
      },
      // the peel rounds unrolled as CTEs: per round a degree count with
      // HAVING >= k and a both-endpoints-survive edge filter
      "k_core" -> {
        def peel(i: Int): String = {
          val prev = s"e${i - 1}"
          s"""k$i AS MATERIALIZED (SELECT node FROM (
            | SELECT doc_a AS node FROM $prev
            | UNION ALL SELECT doc_b AS node FROM $prev) v
            | GROUP BY node HAVING count(*) >= $KCoreK),
            |e$i AS MATERIALIZED (SELECT e.doc_a, e.doc_b FROM $prev e
            | JOIN k$i a ON a.node = e.doc_a JOIN k$i b ON b.node = e.doc_b)""".stripMargin
        }
        s"""WITH ${TextOps.candCtesSql},
          |e0 AS MATERIALIZED (SELECT doc_a, doc_b FROM cand),
          |${(1 to KCoreRounds).map(peel).mkString(",\n")}
          |SELECT node AS doc_id, CAST(count(*) AS BIGINT) AS core_degree FROM (
          | SELECT doc_a AS node FROM e$KCoreRounds
          | UNION ALL SELECT doc_b AS node FROM e$KCoreRounds) v
          |GROUP BY node ORDER BY doc_id""".stripMargin
      })
  }
}
