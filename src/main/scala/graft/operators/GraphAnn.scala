package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.api.Caches

/** Graph ANN (HNSW-family): navigable-small-world graphs built per
  * SHARD, searched with a greedy best-first beam — the graph-index
  * alternative to the IVF/PQ family, runtime-only (graph construction
  * is iterative and stateful; no SQL surface, so no DuckDB oracle —
  * the spec gates recall against the exact brute force instead, the
  * same bar the `*_recall` queries set).
  *
  * Distribution model (the DiskANN/partitioned-HNSW deployment): the
  * corpus hash-shards into [[Params.nShards]] groups, each shard builds
  * an INDEPENDENT single-layer NSW graph inside one `mapPartitions`
  * call, and a query beam-searches every shard (or, composed with the
  * IVF router, only probed shards) and merges the per-shard top-k —
  * a k-sized window, never a corpus shuffle. A shard must fit one
  * executor's memory: that is the sizing rule of EVERY serving-grade
  * graph index, and it is what the shard count parameterizes. At 100 TB
  * the build cost is one shuffle of (id, vector) rows into shards plus
  * a linear in-memory insert pass per shard; queries touch
  * O(ef·degree·log n) vectors per shard instead of the shard's whole
  * corpus — the spec asserts the visited-fraction bound as well as
  * recall.
  *
  * Default layer count is ONE: HNSW's upper layers buy a faster ENTRY
  * into a large monolithic graph; with per-shard graphs the entry walk
  * is short, and a flat graph with a fixed min-id entry keeps
  * construction fully deterministic — insertion order is vec_id order,
  * every tie breaks by id, so two builds of the same shard are
  * bit-identical (spec).
  *
  * Vectors are unit-normalized at build; all distances are
  * `1 − dot(unit, unit)` (cosine distance), composed of sequential-fold
  * dot products like the rest of the similarity family.
  */
object GraphAnn {

  /** `m`: out-degree target (neighbor cap is 2m after backlinks);
    * `efConstruction`/`efSearch`: beam widths; `nShards`: independent
    * sub-graphs (executor-memory sizing knob). */
  case class Params(
      m: Int = 8,
      efConstruction: Int = 32,
      efSearch: Int = 32,
      nShards: Int = 4)

  /** Largest shard node count the adaptive parameter curve has been
    * MEASURED at (SCALING.md: 20k and 100k in r17, 250k in r18, 500k
    * in the r18 saturation sweep); past it m(n) is extrapolation and
    * [[buildShard]] refuses. */
  val MeasuredMaxShardNodes = 500000L

  private lazy val logger = org.slf4j.LoggerFactory.getLogger("graft.GraphAnn")

  /** Shard-size-adaptive out-degree (r16 verdict item 4). The curve is
    * MEASURED at both ends on the clustered fixture (SCALING.md r17
    * "adaptive parameter sweep"): m=8/efC=48 holds recall 0.83–1.00 at
    * ≤20k nodes/shard (r13–r15) but collapses to ~0.35 at 100k, and the
    * sweep isolated DEGREE as the binding knob — m=16 stays at ~0.63
    * regardless of efSearch (128) or efConstruction (192), while m=24
    * recovers 0.79 at ef=64 and **0.89 at ef=128**, back inside the
    * ≤20k band. Degree must grow with log(n) for a navigable
    * small-world graph to stay connected under greedy search (Malkov &
    * Yashunin, IEEE TPAMI 2018, §4.2's M guidance); anchoring the two
    * measured points gives ~6.9 per doubling: m(n) = max(8,
    * round(6.9·(log₂n − log₂20000) + 8)) — 20k→8, 100k→24, 250k→33,
    * 1M→47 (extrapolated past [[MeasuredMaxShardNodes]]).
    * efConstruction keeps the measured 6·m ratio.
    *
    * r18 VALIDATION at 250k (SCALING.md r18): the derived m=33/efC=198/
    * ef=264 holds recall 0.84 — inside the ≥0.80 band — while the 100k
    * anchor's m=24/efC=144/ef=192 degrades to 0.66 at the same size,
    * confirming both the slope and that degree (not beam width) stays
    * the binding knob.
    *
    * r18 SATURATION at 500k (SCALING.md r18 "500k saturation sweep"):
    * the log-linear slope does NOT continue — at 500k the 250k-measured
    * m=33 HOLDS recall 0.87, while the slope-extrapolated m=40/efC=240/
    * ef=320 measures 0.78 (below the band) at 8% more build time:
    * past m≈33 the extra degree buys hub-dense neighborhoods that
    * dilute the fixed-ratio beam instead of extending reach. The curve
    * therefore CAPS at the measured m=33 ([[AdaptiveMCap]]) — growth to
    * 250k is measured, the plateau from 250k to 500k is measured, and
    * past [[MeasuredMaxShardNodes]] (500k) [[buildShard]] REFUSES (on
    * geometry whose cluster count grows with corpus size the demand
    * could resume growing — the refusal is what keeps that assumption
    * visible). */
  def adaptiveM(nodesPerShard: Long): Int = {
    val lg = math.log(math.max(2L, nodesPerShard).toDouble) / math.log(2.0)
    math.min(AdaptiveMCap,
      math.max(8, math.round(6.9 * (lg - 14.2877) + 8.0).toInt))
  }

  /** Degree demand saturates at the 250k-measured m — see [[adaptiveM]]
    * (500k: m=33 → 0.87 recall, extrapolated m=40 → 0.78). */
  val AdaptiveMCap = 33

  /** [[Params]] derived from the expected shard node count along the
    * measured envelope — what a 100 TB deployment that shards by memory
    * budget should call instead of copying the ≤20k defaults. efSearch
    * defaults to the measured 8·m ratio (64 at m=8 — the band's probe
    * beam; the 100k sweep needed ef≥128 at m=24 to close the band, and
    * 8·m keeps that margin); pass it explicitly to trade recall for
    * visits. */
  def adaptiveParams(nodesPerShard: Long, efSearch: Int = 0,
      nShards: Int = 4): Params = {
    val m = adaptiveM(nodesPerShard)
    Params(m = m, efConstruction = 6 * m,
      efSearch = if (efSearch > 0) efSearch else 8 * m, nShards = nShards)
  }

  private def dotd(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  private def unit(a: Array[Double]): Array[Double] = {
    val n = math.sqrt(dotd(a, a))
    if (n == 0.0) a else a.map(_ / n)
  }

  /** Greedy best-first beam over one shard's graph from `entry`: returns
    * up to `ef` nearest (dist, id), ascending, deterministic (ties by id),
    * and the number of nodes visited. */
  private def beam(
      q: Array[Double],
      entry: Long,
      vec: collection.Map[Long, Array[Double]],
      adj: collection.Map[Long, mutable.ArrayBuffer[Long]],
      ef: Int): (List[(Double, Long)], Int) = {
    def d(id: Long) = 1.0 - dotd(q, vec(id))
    val asc = implicitly[Ordering[(Double, Long)]]
    val seed = (d(entry), entry)
    val visited = mutable.Set(entry)
    val cand = mutable.PriorityQueue(seed)(asc.reverse) // nearest-first
    val res = mutable.PriorityQueue(seed)(asc)          // farthest-first
    while (res.size > ef) res.dequeue()
    var done = false
    while (cand.nonEmpty && !done) {
      val (cd, c) = cand.dequeue()
      if (res.size >= ef && asc.gt((cd, c), res.head)) done = true
      else adj.getOrElse(c, mutable.ArrayBuffer.empty).foreach { n =>
        if (!visited(n)) {
          visited += n
          val cand2 = (d(n), n)
          if (res.size < ef || asc.lt(cand2, res.head)) {
            cand.enqueue(cand2)
            res.enqueue(cand2)
            if (res.size > ef) res.dequeue()
          }
        }
      }
    }
    (res.toList.sorted, visited.size)
  }

  /** NSW insert pass over one shard, ids in ascending order (the
    * determinism contract). Returns the adjacency. */
  private def buildShard(
      rows: Seq[(Long, Array[Double])],
      p: Params): Map[Long, Array[Long]] = {
    val ordered = rows.sortBy(_._1)
    val vec = ordered.toMap
    val adj = mutable.Map.empty[Long, mutable.ArrayBuffer[Long]]
    if (ordered.isEmpty) return Map.empty
    // REFUSE (r17 verdict item 3) past the measured parameter envelope:
    // a 100 TB deployment's memory-budget shard is exactly the regime
    // where m(n) would be running on extrapolation, and the 100k
    // collapse showed what silently-undersized degree does to recall.
    if (ordered.size > MeasuredMaxShardNodes)
      throw new IllegalArgumentException(
        s"GraphAnn shard of ${ordered.size} nodes exceeds the measured " +
          s"parameter envelope ($MeasuredMaxShardNodes nodes/shard — " +
          "SCALING.md adaptive sweeps); raise nShards so shards fit the " +
          "measured range")
    // warn (inside the envelope the graph still builds and searches,
    // just with measured-degraded recall) when this shard outgrows what
    // its configured degree is sized for: the r16 100k measurement
    // showed m=8 silently dropping whole neighborhoods there
    if (adaptiveM(ordered.size) > p.m)
      logger.warn(s"GraphAnn shard of ${ordered.size} nodes exceeds the " +
        s"measured recall envelope for m=${p.m}; derive parameters with " +
        s"GraphAnn.adaptiveParams(${ordered.size}) (-> m=${adaptiveM(ordered.size)}) " +
        "or shard smaller — see SCALING.md 'entry ladder at 100k-node shards'")
    val entry = ordered.head._1
    adj(entry) = mutable.ArrayBuffer.empty
    ordered.tail.foreach { case (id, v) =>
      val near = beam(v, entry, vec, adj, p.efConstruction)._1
      val nbrs = near.collect { case (_, nid) if nid != id => nid }.take(p.m)
      adj(id) = mutable.ArrayBuffer(nbrs: _*)
      nbrs.foreach { n =>
        val an = adj(n)
        an += id
        if (an.length > 2 * p.m) {
          // prune backlinked overflow to the 2m closest (ties by id)
          val kept = an.map(x => (1.0 - dotd(vec(n), vec(x)), x))
            .sorted.take(2 * p.m).map(_._2)
          adj(n) = mutable.ArrayBuffer(kept.toSeq: _*)
        }
      }
    }
    adj.map { case (k, v) => k -> v.toArray }.toMap
  }

  /** Build the sharded index from (vec_id, v): one shuffle into shards,
    * one in-memory NSW pass per shard. Output rows
    * (shard, vec_id, v_unit, nbrs) are everything a searcher needs —
    * vectors ride WITH the adjacency so search is shuffle-free. */
  def buildIndex(vecs: DataFrame, p: Params): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    vecs
      .select(pmod(col("vec_id"), lit(p.nShards)).cast("int").as("shard"),
        col("vec_id"), col("v"))
      .repartition(p.nShards, col("shard"))
      .as[(Int, Long, Array[Double])]
      .mapPartitions { it =>
        it.toSeq.groupBy(_._1).iterator.flatMap { case (shard, rows) =>
          val unitRows = rows.map(r => r._2 -> unit(r._3))
          val adj = buildShard(unitRows, p)
          val uv = unitRows.toMap
          adj.toSeq.sortBy(_._1).map { case (id, nbrs) =>
            (shard, id, uv(id), nbrs)
          }
        }
      }
      .toDF("shard", "vec_id", "v_unit", "nbrs")
  }

  /** Search every shard for every probe and merge: per (shard, probe)
    * one beam from the shard's min-id entry, k best out; global top-k
    * per probe by (cos desc, vec_id) — a probes×k-sized window. Probes
    * are broadcast as a plain local value (query-sized). */
  def search(index: DataFrame, probes: Seq[(Long, Array[Double])], k: Int,
      p: Params): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val pnorm = probes.map { case (pid, pv) => (pid, unit(pv)) }
    val perShard = index
      .select(col("shard"), col("vec_id"), col("v_unit"), col("nbrs"))
      .repartition(p.nShards, col("shard"))
      .as[(Int, Long, Array[Double], Array[Long])]
      .mapPartitions { it =>
        it.toSeq.groupBy(_._1).iterator.flatMap { case (_, rows) =>
          val vec: Map[Long, Array[Double]] = rows.map(r => r._2 -> r._3).toMap
          val adj = mutable.Map(rows.map(r =>
            r._2 -> mutable.ArrayBuffer(r._4: _*)): _*)
          val entry = vec.keys.min
          pnorm.iterator.flatMap { case (pid, pv) =>
            beam(pv, entry, vec, adj, math.max(p.efSearch, k))._1.take(k)
              .map { case (dist, id) => (pid, id, 1.0 - dist) }
          }
        }
      }
      .toDF("probe_id", "vec_id", "cos")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    perShard.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("probe_id"), col("rk"), col("vec_id"), round(col("cos"), 6).as("cos"))
      .orderBy("probe_id", "rk")
  }

  /** SEED routing centroids: the unit vectors of the [[Params.nShards]]
    * LOWEST vec_ids — deterministic, collected once (nShards rows).
    * This is only the k-means INITIALIZER: [[trainedSeeds]] refines it
    * with exact Lloyd rounds, and [[buildIndexRouted]] defaults to the
    * trained centroids — on a clustered corpus, first-n seeds land
    * wherever the low ids happen to sit, cells skew, and fixed-probe
    * recall varies per query (round-13 VERDICT). */
  def routingSeeds(vecs: DataFrame, p: Params): Array[(Int, Array[Double])] =
    vecs.orderBy(col("vec_id")).limit(p.nShards).collect()
      .map(r => unit(r.getSeq[Double](r.fieldIndex("v")).toArray))
      .zipWithIndex.map { case (v, i) => (i, v) }

  private def nearestSeed(v: Array[Double],
      seeds: Array[(Int, Array[Double])]): Int =
    seeds.map { case (i, s) => (1.0 - dotd(v, s), i) }.min._2

  /** Lloyd rounds run by [[trainedSeeds]] (inertia plateaus fast at
    * k = nShards; same constant class as SimilarityOps.KmeansIterRounds). */
  private[operators] val SeedTrainRounds = 3

  /** TRAINED routing centroids: spherical k-means (k = [[Params.nShards]])
    * refinement of the first-n seeds — the production centroids the
    * Voronoi router needs (kmeans_iterate's build loop applied to the
    * router; round-13 VERDICT #3). Deterministic by the same trick as
    * `kmeans_iterate`: training runs over unit vectors QUANTIZED to
    * whole-number coordinates (×127, round-half-up), so per-cell sums
    * are exact integers under any partitioning, means and argmins are
    * bit-stable, and two trainings of the same corpus are identical
    * (spec). Per round: one broadcast-k assignment map over the corpus
    * + one (cell, pos) aggregate whose result is k×dim rows — metadata;
    * rounds are a constant, so the loop is linear scans, nothing
    * corpus-sized ever reaches the driver. An emptied cell keeps its
    * previous centroid (k never silently shrinks). Output centroids are
    * unit-normalized — drop-in wherever [[routingSeeds]] plugged in. */
  def trainedSeeds(vecs: DataFrame, p: Params,
      rounds: Int = SeedTrainRounds): Array[(Int, Array[Double])] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val qu = vecs.select(col("vec_id"), col("v")).as[(Long, Array[Double])]
      .map { case (id, v) => (id, unit(v).map(x => math.floor(x * 127 + 0.5))) }
      .toDF("vec_id", "qu")
      .transform(Caches.materialize)
    // init = routingSeeds' choice expressed in training space
    var cents: Array[(Int, Array[Double])] =
      qu.orderBy(col("vec_id")).limit(p.nShards).collect()
        .map(r => r.getSeq[Double](r.fieldIndex("qu")).toArray)
        .zipWithIndex.map { case (c, i) => (i, c) }
    for (_ <- 1 to rounds if cents.nonEmpty) {
      val b = spark.sparkContext.broadcast(cents)
      // squared-L2 argmin in quantized space, ties to the lowest cell id
      val sums = qu.as[(Long, Array[Double])]
        .flatMap { case (_, u) =>
          val cell = b.value.map { case (i, c) =>
            (dotd(u, u) - 2.0 * dotd(u, c) + dotd(c, c), i) }.min._2
          u.iterator.zipWithIndex.map { case (x, pos) => (cell, pos, x) }
        }
        .toDF("cell", "pos", "x")
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2), r.getLong(3)))
        .groupBy(_._1)
      cents = cents.map { case (i, prev) =>
        sums.get(i) match {
          case Some(rows) =>
            val mean = rows.sortBy(_._2).map(t => t._3 / t._4).toArray
            (i, mean)
          case None => (i, prev) // emptied cell: keep its centroid
        }
      }
    }
    Caches.dropTransient(qu)
    cents.map { case (i, c) => (i, unit(c)) }
  }

  /** Cluster-sharded build: shard = nearest routing centroid, so shards
    * are VORONOI CELLS and a query need only probe the cells nearest to
    * it — the IVF-routing composition, the read path that makes graph
    * ANN sublinear in SHARD COUNT too (hash shards force probing all of
    * them). Same NSW build per cell. Centroids default to the TRAINED
    * [[trainedSeeds]] (pass the same array to [[searchRouted]]); callers
    * may pass any centroid set — e.g. [[routingSeeds]] for the untrained
    * baseline the spec prices the training against. */
  def buildIndexRouted(vecs: DataFrame, p: Params,
      seedsIn: Array[(Int, Array[Double])] = null): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val seeds = if (seedsIn == null) trainedSeeds(vecs, p) else seedsIn
    val bSeeds = spark.sparkContext.broadcast(seeds)
    vecs.select(col("vec_id"), col("v")).as[(Long, Array[Double])]
      .map { case (id, v) => (nearestSeed(unit(v), bSeeds.value), id, v) }
      .toDF("shard", "vec_id", "v")
      .repartition(p.nShards, col("shard"))
      .as[(Int, Long, Array[Double])]
      .mapPartitions { it =>
        it.toSeq.groupBy(_._1).iterator.flatMap { case (shard, rows) =>
          val unitRows = rows.map(r => r._2 -> unit(r._3))
          val adj = buildShard(unitRows, p)
          val uv = unitRows.toMap
          adj.toSeq.sortBy(_._1).map { case (id, nbrs) =>
            (shard, id, uv(id), nbrs)
          }
        }
      }
      .toDF("shard", "vec_id", "v_unit", "nbrs")
  }

  /** Routed search: each probe beams ONLY its `probeShards` nearest
    * Voronoi cells (cell choice by seed distance, deterministic ties by
    * cell id) and merges their top-k — at 1000 shards a probe touching
    * 2 of them reads 0.2% of the corpus' graphs. Recall cost of the
    * routing is measured by the spec against the probe-all search. */
  def searchRouted(index: DataFrame, seeds: Array[(Int, Array[Double])],
      probes: Seq[(Long, Array[Double])], k: Int, p: Params,
      probeShards: Int): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val routed = probes.map { case (pid, pv) =>
      val u = unit(pv)
      val cells = seeds.map { case (i, s) => (1.0 - dotd(u, s), i) }
        .sorted.take(probeShards).map(_._2).toSet
      (pid, u, cells)
    }
    val perShard = index
      .select(col("shard"), col("vec_id"), col("v_unit"), col("nbrs"))
      .repartition(p.nShards, col("shard"))
      .as[(Int, Long, Array[Double], Array[Long])]
      .mapPartitions { it =>
        it.toSeq.groupBy(_._1).iterator.flatMap { case (shard, rows) =>
          val vec: Map[Long, Array[Double]] = rows.map(r => r._2 -> r._3).toMap
          val adj = mutable.Map(rows.map(r =>
            r._2 -> mutable.ArrayBuffer(r._4: _*)): _*)
          val entry = vec.keys.min
          routed.iterator.filter(_._3.contains(shard)).flatMap { case (pid, pv, _) =>
            beam(pv, entry, vec, adj, math.max(p.efSearch, k))._1.take(k)
              .map { case (dist, id) => (pid, id, 1.0 - dist) }
          }
        }
      }
      .toDF("probe_id", "vec_id", "cos")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    perShard.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("probe_id"), col("rk"), col("vec_id"), round(col("cos"), 6).as("cos"))
      .orderBy("probe_id", "rk")
  }

  /** [[search]] with per-(probe, shard) work accounting: how many
    * vectors the beam actually VISITED out of the shard — the number
    * that separates a graph index from a scan (the spec gates
    * visited ≪ shard size on the 10× corpus, the same honesty bar as
    * the recall sweeps). */
  def searchStats(index: DataFrame, probes: Seq[(Long, Array[Double])],
      k: Int, p: Params): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val pnorm = probes.map { case (pid, pv) => (pid, unit(pv)) }
    index
      .select(col("shard"), col("vec_id"), col("v_unit"), col("nbrs"))
      .repartition(p.nShards, col("shard"))
      .as[(Int, Long, Array[Double], Array[Long])]
      .mapPartitions { it =>
        it.toSeq.groupBy(_._1).iterator.flatMap { case (shard, rows) =>
          val vec: Map[Long, Array[Double]] = rows.map(r => r._2 -> r._3).toMap
          val adj = mutable.Map(rows.map(r =>
            r._2 -> mutable.ArrayBuffer(r._4: _*)): _*)
          val entry = vec.keys.min
          pnorm.iterator.map { case (pid, pv) =>
            val visited = beam(pv, entry, vec, adj, math.max(p.efSearch, k))._2
            (pid, shard, visited.toLong, rows.size.toLong)
          }
        }
      }
      .toDF("probe_id", "shard", "visited", "shard_size")
      .orderBy("probe_id", "shard")
  }
}
