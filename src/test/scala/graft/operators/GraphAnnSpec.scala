package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest

/** Graph ANN (per-shard NSW + beam search): recall against the exact
  * brute force, bit-exact determinism of build and search, structural
  * degree/shard invariants, and the visited-fraction bound that makes
  * it an INDEX rather than a scan.
  */
class GraphAnnSpec extends AnyFunSuite with SparkTest {

  private val P = GraphAnn.Params(m = 8, efConstruction = 48, efSearch = 64, nShards = 4)
  private val NProbes = 10
  private val K = 10

  private def embeds(dir: String) =
    graft.model.Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))

  /** Deterministic clustered corpus: `n` unit vectors in 64-dim around
    * 100 hash-derived centers with small within-cluster spread — the
    * geometry real embedding corpora have (and the replica's clone
    * cliques don't): clear gradients, so beam walk-in cost is real. */
  private def clustered(n: Int, dim: Int = 64, k: Int = 100): Array[(Long, Array[Double])] = {
    def h(seed: Long, j: Int): Double = {
      var x = seed * 6364136223846793005L + j * 1442695040888963407L
      x ^= (x >>> 33); x *= -7046029254386353131L; x ^= (x >>> 29)
      (x.toDouble / Long.MaxValue) // [-1, 1), deterministic
    }
    (0 until n).map { i =>
      val c = i % k
      val v = Array.tabulate(dim)(j => h(c + 1L, j) + 0.15 * h(1000003L * (i + 1), j))
      i.toLong -> v
    }.toArray
  }

  private def unitVecs(dir: String): Map[Long, Array[Double]] =
    embeds(dir).collect().map { r =>
      val v = r.getSeq[Double](1).toArray
      val n = math.sqrt(v.map(x => x * x).sum)
      r.getLong(0) -> v.map(_ / n)
    }.toMap

  test("beam-search recall@10 against the exact brute force is >= 0.9") {
    val idx = GraphAnn.buildIndex(embeds(sf), P).cache()
    val all = unitVecs(sf)
    val probes = (0L until NProbes).map(id => id -> all(id))
    val got = GraphAnn.search(idx, probes, K + 1, P).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("vec_id")))
      .groupBy(_._1).map { case (pid, rs) =>
        pid -> rs.map(_._2).filter(_ != pid).take(K).toSet
      }
    val recalls = probes.map { case (pid, pv) =>
      val exact = all.toSeq.filter(_._1 != pid)
        .map { case (id, v) => (-v.zip(pv).map { case (a, b) => a * b }.sum, id) }
        .sorted.take(K).map(_._2).toSet
      got(pid).intersect(exact).size.toDouble / K
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"mean recall@10 $mean below 0.9 (per-probe: $recalls)")
    idx.unpersist()
  }

  test("build and search are bit-exact deterministic") {
    def adjacency() = GraphAnn.buildIndex(embeds(sf), P).collect()
      .map(r => (r.getAs[Int]("shard"), r.getAs[Long]("vec_id"),
        r.getSeq[Long](r.fieldIndex("nbrs")).toSeq))
      .sortBy(t => (t._1, t._2)).toSeq
    val a1 = adjacency()
    assert(a1 == adjacency(), "two builds differ")
    val idx = GraphAnn.buildIndex(embeds(sf), P).cache()
    val all = unitVecs(sf)
    val probes = (0L until NProbes).map(id => id -> all(id))
    def res() = GraphAnn.search(idx, probes, K, P).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Int]("rk"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("cos"))).toSeq
    assert(res() == res(), "two searches differ")
    idx.unpersist()
  }

  test("structural invariants: degree cap 2m, no self loops, edges stay in-shard") {
    val rows = GraphAnn.buildIndex(embeds(sf), P).collect()
      .map(r => (r.getAs[Int]("shard"), r.getAs[Long]("vec_id"),
        r.getSeq[Long](r.fieldIndex("nbrs"))))
    assert(rows.length == embeds(sf).count())
    val shardOf = rows.map(r => r._2 -> r._1).toMap
    rows.foreach { case (shard, id, nbrs) =>
      assert(nbrs.length <= 2 * P.m, s"node $id degree ${nbrs.length} > ${2 * P.m}")
      assert(!nbrs.contains(id), s"self loop at $id")
      assert(nbrs.distinct.length == nbrs.length, s"duplicate edge at $id")
      nbrs.foreach(n => assert(shardOf(n) == shard, s"cross-shard edge $id -> $n"))
      assert(shardOf(id) == (id % P.nShards).toInt)
    }
    // non-entry nodes are never isolated (insertion connects them)
    rows.groupBy(_._1).values.foreach { ss =>
      val entry = ss.map(_._2).min
      ss.filter(_._2 != entry).foreach { case (_, id, nbrs) =>
        assert(nbrs.nonEmpty, s"isolated non-entry node $id")
      }
    }
  }

  test("routed search probes 2 of 4 Voronoi cells and keeps most of the recall") {
    val dir = "/root/testdata/sf0.1" // 2000 vectors
    val e = embeds(dir)
    val seeds = GraphAnn.trainedSeeds(e, P)
    assert(seeds.length == P.nShards)
    val idx = GraphAnn.buildIndexRouted(e, P, seeds).cache()
    val all = unitVecs(dir)
    // shards are true Voronoi cells of the seeds
    idx.collect().foreach { r =>
      val v = r.getSeq[Double](r.fieldIndex("v_unit")).toArray
      val nearest = seeds.map { case (i, s) =>
        (1.0 - v.zip(s).map { case (a, b) => a * b }.sum, i) }.min._2
      assert(r.getAs[Int]("shard") == nearest,
        s"vec ${r.getAs[Long]("vec_id")} not in its nearest cell")
    }
    val probes = (0L until NProbes).map(id => id -> all(id))
    def recallOf(rows: Array[org.apache.spark.sql.Row]): Double = {
      val got = rows.map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("vec_id")))
        .groupBy(_._1).map { case (pid, rs) =>
          pid -> rs.map(_._2).filter(_ != pid).take(K).toSet }
      probes.map { case (pid, pv) =>
        val exact = all.toSeq.filter(_._1 != pid)
          .map { case (id, v) => (-v.zip(pv).map { case (a, b) => a * b }.sum, id) }
          .sorted.take(K).map(_._2).toSet
        got(pid).intersect(exact).size.toDouble / K
      }.sum / NProbes
    }
    val routed2 = GraphAnn.searchRouted(idx, seeds, probes, K + 1, P, probeShards = 2)
    val r2 = recallOf(routed2.collect())
    val rAll = recallOf(GraphAnn.searchRouted(idx, seeds, probes, K + 1, P,
      probeShards = P.nShards).collect())
    // probing half the cells keeps most of the probe-all recall
    assert(r2 >= rAll - 0.25 && r2 >= 0.6,
      s"routed recall $r2 too far below probe-all $rAll")
    // determinism of the routed path
    val a = routed2.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val b = GraphAnn.searchRouted(idx, seeds, probes, K + 1, P, probeShards = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(a == b)
    idx.unpersist()
  }

  test("trained routing centroids: deterministic, balanced cells, probe-1 recall holds (r13 verdict #3)") {
    val dir = "/root/testdata/sf0.1"
    val e = embeds(dir)
    val all = unitVecs(dir)
    val n = all.size
    // bit-determinism: training runs in quantized space (exact integer
    // sums), so two trainings of the same corpus are identical
    val trained = GraphAnn.trainedSeeds(e, P)
    assert(trained.map(_._2.toSeq).toSeq
      == GraphAnn.trainedSeeds(e, P).map(_._2.toSeq).toSeq,
      "two trainings differ — the determinism contract broke")
    // trained centroids are unit vectors
    trained.foreach { case (i, c) =>
      val norm = math.sqrt(c.map(x => x * x).sum)
      assert(math.abs(norm - 1.0) < 1e-9, s"cell $i centroid norm $norm")
    }
    def cellSizes(seeds: Array[(Int, Array[Double])]): Seq[Long] = {
      val idx = GraphAnn.buildIndexRouted(e, P, seeds)
      idx.groupBy("shard").count().collect().map(_.getLong(1)).toSeq
    }
    val seeded = cellSizes(GraphAnn.routingSeeds(e, P))
    val tr = cellSizes(trained)
    assert(tr.sum == n && tr.size <= P.nShards)
    // balance: Lloyd rounds must not make the cells WORSE than the
    // first-n seeds', and the hottest trained cell stays bounded
    val mean = n.toDouble / P.nShards
    assert(tr.max / mean <= seeded.max / mean + 0.05,
      s"training worsened cell balance: seeded=$seeded trained=$tr")
    assert(tr.max / mean < 2.5, s"trained cells badly skewed: $tr")
    // probe-1 recall: the cheapest routed read must not lose recall vs
    // the first-n seeds it replaced (the production claim)
    val probes = (0L until NProbes).map(id => id -> all(id))
    def recall1(seeds: Array[(Int, Array[Double])]): Double = {
      val idx = GraphAnn.buildIndexRouted(e, P, seeds).cache()
      idx.count()
      val got = GraphAnn.searchRouted(idx, seeds, probes, K + 1, P, probeShards = 1)
        .collect().map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("vec_id")))
        .groupBy(_._1).map { case (pid, rs) =>
          pid -> rs.map(_._2).filter(_ != pid).take(K).toSet }
      idx.unpersist()
      probes.map { case (pid, pv) =>
        val exact = all.toSeq.filter(_._1 != pid)
          .map { case (id, v) => (-v.zip(pv).map { case (a, b) => a * b }.sum, id) }
          .sorted.take(K).map(_._2).toSet
        got.getOrElse(pid, Set.empty).intersect(exact).size.toDouble / K
      }.sum / NProbes
    }
    val rTrained = recall1(trained)
    val rSeeded = recall1(GraphAnn.routingSeeds(e, P))
    info(f"probe-1 recall: trained=$rTrained%.3f seeded=$rSeeded%.3f cells trained=$tr seeded=$seeded")
    assert(rTrained >= rSeeded - 0.05,
      s"trained centroids lost probe-1 recall: $rTrained vs seeded $rSeeded")
  }

  test("10x replica: trained Voronoi cells balanced, probe-1 recall beats the r13 0.94 bar") {
    // runs only where the builder's 10x replica exists (same gating idea
    // as the env-gated A/B harnesses — the driver corpora stop at sf0.1)
    assume(new java.io.File("/tmp/sf1/embeddings.parquet").exists,
      "10x replica /tmp/sf1 not present")
    val dir = "/tmp/sf1" // 20000 vectors
    val e = embeds(dir)
    val seeds = GraphAnn.trainedSeeds(e, P)
    val idx = GraphAnn.buildIndexRouted(e, P, seeds).cache()
    val n = idx.count()
    // balanced cells: the property first-n seeds cannot promise
    val sizes = idx.groupBy("shard").count().collect().map(_.getLong(1))
    val maxOverMean = sizes.max.toDouble / (n.toDouble / P.nShards)
    info(f"trained cells=${sizes.mkString(",")} maxOverMean=$maxOverMean%.3f")
    assert(maxOverMean < 1.25, s"trained cells skewed: ${sizes.mkString(",")}")
    // probe-1 recall at ef=256: one cell of 4 — measured 0.97 (the
    // partition's geometric ceiling; r13's seeded figure was 0.94)
    val all = unitVecs(dir)
    val probes = (0L until NProbes).map(id => id -> all(id))
    val P2 = P.copy(efSearch = 256)
    val got = GraphAnn.searchRouted(idx, seeds, probes, K + 1, P2, probeShards = 1)
      .collect().map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("vec_id")))
      .groupBy(_._1).map { case (pid, rs) =>
        pid -> rs.map(_._2).filter(_ != pid).take(K).toSet }
    val recall = probes.map { case (pid, pv) =>
      val exact = all.toSeq.filter(_._1 != pid)
        .map { case (id, v) => (-v.zip(pv).map { case (a, b) => a * b }.sum, id) }
        .sorted.take(K).map(_._2).toSet
      got.getOrElse(pid, Set.empty).intersect(exact).size.toDouble / K
    }.sum / NProbes
    info(f"trained probe-1 recall@10 at ef=256: $recall%.3f")
    assert(recall >= 0.94, s"routed recall $recall below the r13 bar 0.94")
    idx.unpersist()
  }

  test("the beam visits a shrinking FRACTION of each shard as the corpus grows") {
    def meanFrac(dir: String): (Double, Long) = {
      val idx = GraphAnn.buildIndex(embeds(dir), P).cache()
      val all = unitVecs(dir)
      val probes = (0L until NProbes).map(id => id -> all(id))
      val st = GraphAnn.searchStats(idx, probes, K, P).collect()
        .map(r => (r.getAs[Long]("visited"), r.getAs[Long]("shard_size")))
      idx.unpersist()
      (st.map(t => t._1.toDouble / t._2).sum / st.length, st.map(_._2).max)
    }
    val (fSmall, nSmall) = meanFrac(sf)                       // 500 vectors
    val (fBig, nBig) = meanFrac("/root/testdata/sf0.1")       // 2000 vectors
    assert(nBig > nSmall)
    assert(fBig < fSmall, s"visited fraction grew with corpus: $fSmall -> $fBig")
    assert(fBig < 0.8, s"beam scans most of the shard at 2000 vectors: $fBig")
  }

  test("adaptive parameters follow the measured envelope curve") {
    // the two pinned endpoints: <=20k nodes/shard is exactly the
    // measured-good config; 100k (where m=8 collapsed to ~0.35 recall,
    // SCALING.md r16) derives a doubled degree
    assert(GraphAnn.adaptiveParams(20000L) ==
      GraphAnn.Params(m = 8, efConstruction = 48, efSearch = 64, nShards = 4))
    assert(GraphAnn.adaptiveM(100000L) == 24) // the sweep's recovered point
    assert(GraphAnn.adaptiveParams(100000L).efConstruction == 144)
    assert(GraphAnn.adaptiveParams(100000L).efSearch == 192) // 8·m margin
    assert(GraphAnn.adaptiveM(250000L) == 33) // r18: measured 0.84 recall
    // ... where the 100k anchor's m=24 measured 0.66 at 250k — the slope
    // is load-bearing, not a safety margin
    // r18 saturation sweep: at 500k the slope's m=40 measured 0.78
    // (below the band) while m=33 held 0.87 — the curve caps at the
    // measured m and never exceeds it, however large the shard claims
    assert(GraphAnn.adaptiveM(500000L) == GraphAnn.AdaptiveMCap)
    assert(GraphAnn.adaptiveM(1000000L) == GraphAnn.AdaptiveMCap)
    assert(GraphAnn.AdaptiveMCap == 33)
    // monotone non-decreasing — a bigger shard never derives a smaller m
    val ms = Seq(1000L, 5000L, 20000L, 50000L, 100000L, 500000L, 1000000L)
      .map(GraphAnn.adaptiveM)
    assert(ms == ms.sorted)
    // the build-time warning condition fires exactly where the envelope
    // is exceeded: the r16 degraded config (m=8 at 100k) trips it, the
    // measured-good one does not
    assert(GraphAnn.adaptiveM(100000L) > 8)
    assert(GraphAnn.adaptiveM(20000L) <= 8)
  }

  test("shards past the measured envelope refuse to build (r17 #3)") {
    import spark.implicits._
    // a shard bigger than MeasuredMaxShardNodes: synthesize by claiming
    // one shard over > envelope rows of trivially small vectors — the
    // refusal must fire BEFORE any insert work, so tiny dims keep this
    // test cheap. nShards=1 puts everything in one shard.
    val n = (GraphAnn.MeasuredMaxShardNodes + 1).toInt
    val vecs = spark.range(n)
      .select(col("id").as("vec_id"),
        array(lit(1.0), (col("id") % 97).cast("double")).as("v"))
    val p = GraphAnn.adaptiveParams(n.toLong, nShards = 1)
    val e = intercept[org.apache.spark.SparkException] {
      GraphAnn.buildIndex(vecs, p).count()
    }
    assert(e.getMessage.contains("measured") ||
      Option(e.getCause).exists(_.getMessage.contains("measured")),
      s"expected the envelope refusal, got: ${e.getMessage}")
    // capping the rows back inside the envelope builds
    assert(GraphAnn.buildIndex(vecs.limit(1000),
      GraphAnn.adaptiveParams(1000L, nShards = 1)).count() == 1000)
  }

  test("recall at 100k-node shards recovers to the <=20k band with derived parameters (env-gated)") {
    // ~4-8 min single-shard build; run with SPARK_GRAFT_ANN100K=1.
    // Measured result lives in SCALING.md r17 either way.
    assume(sys.env.contains("SPARK_GRAFT_ANN100K"), "set SPARK_GRAFT_ANN100K to run")
    import spark.implicits._
    val all = clustered(100000).map { case (id, v) =>
      val n = math.sqrt(v.map(x => x * x).sum); id -> v.map(_ / n)
    }.toMap
    val vecsDf = clustered(100000).toSeq.toDF("vec_id", "v")
    val probes = (0L until 10L).map(id => id -> all(id))
    def exact(pid: Long, pv: Array[Double]) = all.toSeq.filter(_._1 != pid)
      .map { case (id, v) => (-v.zip(pv).map { case (a, b) => a * b }.sum, id) }
      .sorted.take(10).map(_._2).toSet
    val truth = probes.map { case (p, v) => p -> exact(p, v) }.toMap
    // the DERIVED config for a 100k shard (m=24/efC=144/ef=192) vs the
    // r16 measured collapse (m=8/efC=48 -> 32-37/100)
    val p = GraphAnn.adaptiveParams(100000L, nShards = 1)
    val idx = GraphAnn.buildIndex(vecsDf, p).cache(); idx.count()
    val got = GraphAnn.search(idx, probes, 11, p).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("vec_id")))
      .groupBy(_._1).map { case (pid, rs) =>
        pid -> rs.map(_._2).filter(_ != pid).take(10).toSet }
    val recall = probes.map { case (pid, _) =>
      got(pid).intersect(truth(pid)).size }.sum
    info(s"recall@10 sum over 10 probes at 100k, derived m=${p.m}/efC=${p.efConstruction}: $recall/100")
    assert(recall >= 80,
      s"derived params must recover the <=20k band (>=80/100), got $recall " +
        "(r16 measured 32-37/100 at m=8/efC=48)")
    idx.unpersist()
  }
}
