package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Semantic assertions per operator family, mirroring the reference's
  * test intent (SURVEY.md §5.2): quarantine routing mirrors
  * `consumer_test.exs:90-111`, enrichment mirrors `emitter_test.exs:53-64`,
  * store semantics mirror `memory_test.exs:12-92` (documented partial-match
  * semantics, not the reference's vacuous payload check — §2.1 #15).
  */
class OperatorSpec extends AnyFunSuite with SparkTest {

  test("dlq_split partitions the input: ok ∪ dlq = all, ok ∩ dlq = ∅") {
    val routed = EventOps.dlqSplit(spark, sf).cache()
    val all = graft.model.Tables.events(spark, sf).count()
    val ok = routed.filter(col("route") === "ok")
    val dlq = routed.filter(col("route") === "dlq")
    assert(ok.count() + dlq.count() == all)
    assert(ok.select("event_id").intersect(dlq.select("event_id")).count() == 0)
    // every error-typed event is quarantined (consumer_test.exs:101-111)
    assert(routed.filter(col("event_type") === "error" && col("route") =!= "dlq").count() == 0)
    routed.unpersist()
  }

  test("emit_enrich stamps producer and preserves payload (emitter_test.exs:53-64)") {
    val e = EventOps.emitEnrich(spark, sf).cache()
    val srcAll = graft.model.Tables.events(spark, sf)
    assert(e.count() == srcAll.count()) // no rows dropped
    assert(e.filter(col("producer") =!= "graft").count() == 0)
    assert(e.filter(col("uuid").isNull || col("cid").isNull).count() == 0)
    // payload carried through unchanged (null-safe comparison)
    val joined = e.join(srcAll.select(col("event_id"), col("props")), "event_id")
    assert(joined.filter(!(col("payload") <=> col("props"))).count() == 0)
    e.unpersist()
  }

  test("partition_assign lands every event in [0, partition_count)") {
    val p = EventOps.partitionAssign(spark, sf)
    assert(p.filter(col("part_id") < 0 || col("part_id") >= col("partition_count")).count() == 0)
  }

  test("cache_last returns the most recently inserted event (memory_test List.last)") {
    val last = EventOps.cacheLast(spark, sf).collect()
    assert(last.length == 1)
    val maxId = graft.model.Tables.events(spark, sf).agg(max("event_id")).head().getLong(0)
    assert(last(0).getAs[Long]("event_id") == maxId)
  }

  test("include_match finds a present pattern and misses an absent one (memory_test.exs:72-91)") {
    assert(EventOps.includeMatch(spark, sf).head().getBoolean(0))
    val absent = graft.model.Tables.events(spark, sf)
      .filter(col("event_type") === "no:such:topic")
      .agg((count(lit(1)) > 0).as("found"))
    assert(!absent.head().getBoolean(0))
  }

  test("request_reply_pairs bounds every reply inside the request's window") {
    val pairs = EventOps.requestReplyPairs(spark, sf).cache()
    assert(pairs.count() > 0)
    // the interval-join contract (channel_client push_and_receive: a
    // reply counts only within the timeout after its request)
    assert(pairs.filter(unix_micros(col("reply_ts")) < unix_micros(col("req_ts"))).count() == 0)
    assert(pairs.filter(
      unix_micros(col("reply_ts")) > unix_micros(col("req_ts")) + 300L * 1000000L).count() == 0)
    // pairing never crosses users, and ids are real click/purchase events
    val ev = graft.model.Tables.events(spark, sf)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("req_id"), col("user_id").as("cu"))
    val bad = pairs.join(clicks, Seq("req_id")).filter(col("cu") =!= col("user_id"))
    assert(bad.count() == 0)
    pairs.unpersist()
  }

  test("dedup_exact keeps exactly the lowest doc_id per content hash") {
    val once = TextOps.dedupExact(spark, sf).cache()
    val hashes = once.select("content_hash").distinct().count()
    assert(once.count() == hashes)
    // survivors are exactly min(doc_id) per hash, computed independently
    val expected = graft.model.Tables.documents(spark, sf)
      .withColumn("content_hash", md5(col("text")))
      .groupBy("content_hash").agg(min("doc_id").as("doc_id"))
    assert(once.select("doc_id", "content_hash")
      .except(expected.select("doc_id", "content_hash")).count() == 0)
    assert(expected.count() == once.count())
    once.unpersist()
  }

  test("minhash finds the corpus's real near-dup pairs with valid jaccard") {
    val pairs = TextOps.ngramJaccard(spark, sf).cache()
    assert(pairs.count() > 0) // the synthetic corpus contains near-dups
    assert(pairs.filter(col("doc_a") >= col("doc_b")).count() == 0)
    assert(pairs.filter(col("jaccard") < 0 || col("jaccard") > 1).count() == 0)
    // LSH candidates at 2x2 banding should be genuinely similar docs
    assert(pairs.agg(max("jaccard")).head().getDouble(0) > 0.5)
    pairs.unpersist()
  }

  test("dedup_groups is a valid components labeling of the candidate-pair graph") {
    val groups = TextOps.dedupGroups(spark, sf).cache()
    val docs = graft.model.Tables.documents(spark, sf)
    // total labeling: every doc appears exactly once
    assert(groups.count() == docs.count())
    assert(groups.select("doc_id").distinct().count() == docs.count())
    // edge consistency: both ends of every candidate pair share a group
    val pairs = TextOps.dedupMinhashPairs(spark, sf)
    val ga = groups.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("group_id", "g_a")
    val gb = groups.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("group_id", "g_b")
    assert(pairs.join(ga, "doc_a").join(gb, "doc_b")
      .filter(col("g_a") =!= col("g_b")).count() == 0)
    // the label is a member of its own component and is the minimum:
    // every group_id labels itself (canonical representative exists)
    val roots = groups.select(col("group_id").as("doc_id")).distinct()
    assert(roots.join(groups, "doc_id")
      .filter(col("group_id") =!= col("doc_id")).count() == 0)
    assert(groups.filter(col("group_id") > col("doc_id")).count() == 0)
    // canonical keep-list partitions the corpus: component sizes sum to N
    val canon = TextOps.dedupCanonical(spark, sf)
    assert(canon.agg(sum("group_sz")).head().getLong(0) == docs.count())
    groups.unpersist()
  }

  test("pipeline assembly ops: sample is stratified, split partitions, packs respect the budget") {
    val docs = graft.model.Tables.documents(spark, sf)
    val n = docs.count()
    // deterministic sample: re-running yields byte-identical membership
    val s1 = PipelineOps.sampleStratified(spark, sf)
    assert(s1.except(PipelineOps.sampleStratified(spark, sf)).count() == 0)
    // en is downsampled harder than the default-rate languages
    val enTotal = docs.filter(col("lang") === "en").count().toDouble
    val enKept = s1.filter(col("lang") === "en").count().toDouble
    val deTotal = docs.filter(col("lang") === "de").count().toDouble
    val deKept = s1.filter(col("lang") === "de").count().toDouble
    assert(enKept / enTotal < deKept / deTotal)
    // split covers every doc exactly once and is ~900/50/50
    val split = PipelineOps.datasetSplit(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(split.values.sum == n)
    assert(split("train") > split("val") && split("train") > split("test"))
    // packing: start offsets within a pack stay under the budget, and
    // every pack is a contiguous doc_id run within its shard
    val packed = PipelineOps.sequencePack(spark, sf).cache()
    assert(packed.count() == n)
    val perPack = packed.groupBy("shard", "pack_id")
      .agg(sum("n_tokens").as("total"), count(lit(1)).as("m"))
    // a pack only overflows by (at most) the tokens of its last member
    val maxDoc = packed.agg(max("n_tokens")).head().getLong(0)
    assert(perPack.filter(col("total") > PipelineOps.PackBudget + maxDoc).count() == 0)
    // tfidf: strictly positive, one row per (doc, dim) of the TF table
    val tfidf = PipelineOps.tfidfEmbedding(spark, sf)
    assert(tfidf.filter(col("tfidf") <= 0).count() == 0)
    assert(tfidf.groupBy("doc_id", "dim").count().filter(col("count") > 1).count() == 0)
    packed.unpersist()
  }

  test("quality score is bounded in [0,1]") {
    val q = TextOps.qualityScore(spark, sf)
    assert(q.filter(col("quality") < 0 || col("quality") > 1).count() == 0)
  }

  test("decontaminate witnesses live in the train split and meet the overlap bar") {
    val dc = TextOps.decontaminate(spark, sf).cache()
    val bucket = expr(
      "cast(conv(substring(md5(concat('spl:', cast(doc_id as string))), 1, 7), 16, 10) as bigint) % 1000")
    val evalIds = graft.model.Tables.documents(spark, sf)
      .filter(bucket >= 950).select("doc_id")
    // one row per eval doc, no others
    assert(dc.count() == evalIds.count())
    assert(dc.join(evalIds, Seq("doc_id"), "left_anti").count() == 0)
    // flagged rows carry a positive overlap >= the bar; clean rows carry 0
    assert(dc.filter(col("clean") === 0 && col("overlap") < 5).count() == 0)
    assert(dc.filter(col("clean") === 1 &&
      (col("overlap") =!= 0 || col("contaminated_by").isNotNull)).count() == 0)
    // every witness is a train-split doc
    val witnesses = dc.filter(col("clean") === 0)
      .select(col("contaminated_by").as("doc_id"))
    val trainIds = graft.model.Tables.documents(spark, sf)
      .filter(bucket < 900).select("doc_id")
    assert(witnesses.join(trainIds, Seq("doc_id"), "left_anti").count() == 0)
    dc.unpersist()
  }

  test("dedup_incremental agrees with the all-pairs path on new-vs-old matches") {
    // every new doc the incremental path flags must have exactly the
    // min-id old-side witness the full candidate-pair join produces
    val inc = TextOps.dedupIncremental(spark, sf).cache()
    val pairs = TextOps.dedupMinhashPairs(spark, sf)
    val crossNew = pairs.select(
        when(col("doc_a") % 10 === 9, col("doc_a")).otherwise(col("doc_b")).as("nid"),
        when(col("doc_a") % 10 === 9, col("doc_b")).otherwise(col("doc_a")).as("oid"))
      .filter(col("nid") % 10 === 9 && col("oid") % 10 =!= 9)
    val expected = crossNew.groupBy(col("nid")).agg(min(col("oid")).as("mo"))
    val flagged = inc.filter(col("kept") === 0)
    val joined = flagged.join(expected, flagged("doc_id") === expected("nid"))
    assert(joined.filter(col("matched_old") =!= col("mo")).count() == 0)
    assert(flagged.count() == joined.count()) // no flagged doc without a witness
    // and the reverse direction: every cross match IS flagged — an
    // under-flagging kernel (kept=1 despite a corpus collision) would
    // otherwise pass all of the above
    assert(flagged.count() == expected.count())
    assert(inc.count() ==
      graft.model.Tables.documents(spark, sf).filter(col("doc_id") % 10 === 9).count())
    inc.unpersist()
  }

  test("simhash_neardup banding is lossless: equals the brute-force Hamming ball") {
    // 4 bands × 7 bits with a ≤3 bound: pigeonhole guarantees a shared
    // band, so the banded plan must return EXACTLY the quadratic scan's
    // pairs — compare against brute force on the small corpus
    val banded = TextOps.simhashNeardup(spark, sf)
    val sig = TextOps.simhash(spark, sf)
    val brute = sig.as("a").join(sig.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("bit_count(a.simhash ^ b.simhash)").cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
    assert(banded.count() > 0) // corpus has clone pairs at hamming 0
    assert(banded.except(brute).count() == 0)
    assert(brute.except(banded).count() == 0)
  }

  test("simhash values fit the 60-bit space and use the high bands") {
    val s = TextOps.simhash(spark, sf).cache()
    assert(s.filter(col("simhash") < 0 || col("simhash") >= (1L << 60)).count() == 0)
    // the widened signature must actually populate the upper band —
    // a regression to the old 28-bit hash would leave bits 28-59 as the
    // all-below-majority default on every doc
    assert(s.filter(col("simhash") >= (1L << 45)).count() > 0)
    s.unpersist()
  }

  test("embed_quantize spans the full int8 range and never exceeds it") {
    val q = SimilarityOps.embedQuantize(spark, sf).cache()
    assert(q.filter(col("qval") > 127 || col("qval") < -127).count() == 0)
    // the max-|x| element of every non-zero vector maps to exactly ±127 —
    // a symmetric-scale quantizer that undershoots wastes code range
    val mx = q.filter(col("scale") > 0)
      .groupBy(col("vec_id")).agg(max(abs(col("qval"))).as("mx"))
    assert(mx.filter(col("mx") =!= 127).count() == 0)
    q.unpersist()
  }

  test("topk_similarity returns k rows of valid cosines, descending") {
    val top = SimilarityOps.topkSimilarity(spark, sf).collect()
    assert(top.length == 10)
    val cs = top.map(_.getAs[Double]("cos"))
    assert(cs.forall(c => c >= -1.0 && c <= 1.0))
    assert(cs.sliding(2).forall { case Array(a, b) => a >= b; case _ => true })
  }

  test("ann paths return real non-probe candidates with brute-force-consistent cosines") {
    val lsh = SimilarityOps.annLsh(spark, sf).collect()
    assert(lsh.nonEmpty) // verified non-empty on this corpus
    assert(lsh.forall(r => r.getAs[Long]("vec_id") != 0))
    assert(lsh.map(_.getAs[Long]("vec_id")).distinct.length == lsh.length)
    val ivf = SimilarityOps.annIvf(spark, sf).collect()
    assert(ivf.nonEmpty)
    assert(ivf.forall(r => math.abs(r.getAs[Double]("cos")) <= 1.0))
    // every ANN cosine must equal the brute-force cosine for that vec:
    // any candidate scoring above the brute-force top-10 floor must BE
    // in the brute-force top-10
    val brute = SimilarityOps.topkSimilarity(spark, sf).collect()
    val bruteMap = brute.map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cos")).toMap
    val floor = brute.map(_.getAs[Double]("cos")).min
    for (r <- lsh ++ ivf; v = r.getAs[Long]("vec_id"); c = r.getAs[Double]("cos")) {
      if (c > floor) assert(bruteMap.get(v).contains(c),
        s"vec $v cos $c above brute-force floor but absent/different in top-10")
    }
  }

  test("ann_recall equals the recomputed exact∩lsh top-5 overlap") {
    val row = SimilarityOps.annRecall(spark, sf).collect().head
    assert(row.getAs[Int]("k") == 5)
    val exact5 = SimilarityOps.topkSimilarity(spark, sf).collect()
      .take(5).map(_.getAs[Long]("vec_id")).toSet
    val lsh5 = SimilarityOps.annLsh(spark, sf).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val hits = (exact5 & lsh5).size.toLong
    assert(row.getAs[Long]("hits") == hits)
    assert(math.abs(row.getAs[Double]("recall") - hits / 5.0) < 1e-9)
  }

  test("repetition_stats ratios are sane and match a per-doc recomputation") {
    val r = TextOps.repetitionStats(spark, sf).cache()
    val docs = graft.model.Tables.documents(spark, sf)
    assert(r.count() == docs.count())
    assert(r.filter(col("rep3_ratio") < 0 || col("rep3_ratio") >= 1).count() == 0)
    assert(r.filter(col("ttr") <= 0 || col("ttr") > 1).count() == 0)
    assert(r.filter(col("n_uniq_3grams") > col("n_3grams") ||
      col("n_uniq_words") > col("n_words")).count() == 0)
    // spot-check one doc against a driver-side recomputation
    val row = r.filter(col("doc_id") === 1).collect().head
    val text = docs.filter(col("doc_id") === 1).collect().head.getAs[String]("text")
    val toks = text.toLowerCase.trim.replaceAll("\\s+", " ").split(" ").toSeq
    val grams = if (toks.length < 3) Seq(toks.mkString(" "))
      else toks.sliding(3).map(_.mkString(" ")).toSeq
    assert(row.getAs[Long]("n_3grams") == grams.length)
    assert(row.getAs[Long]("n_uniq_3grams") == grams.distinct.length)
    assert(row.getAs[Long]("n_words") == toks.length)
    assert(row.getAs[Long]("n_uniq_words") == toks.distinct.length)
    r.unpersist()
  }

  test("corpus_shuffle is a deterministic permutation: dense per-shard positions") {
    val s = PipelineOps.corpusShuffle(spark, sf).cache()
    val docs = graft.model.Tables.documents(spark, sf)
    assert(s.count() == docs.count()) // every doc exactly once
    assert(s.select("doc_id").distinct().count() == docs.count())
    // positions are 1..n within each shard (dense, no gaps or dups)
    val perShard = s.groupBy("shard")
      .agg(count(lit(1)).as("n"), max(col("pos")).as("mx"),
        countDistinct(col("pos")).as("d"))
    assert(perShard.filter(col("mx") =!= col("n") || col("d") =!= col("n")).count() == 0)
    // hash-deterministic: a second invocation yields the identical assignment
    assert(PipelineOps.corpusShuffle(spark, sf).exceptAll(s).count() == 0)
    s.unpersist()
  }

  test("multimodal decode plumbing: bytes flow through mapPartitions batches") {
    val meta = MultimodalOps.decodeAll(spark, sf).cache()
    val docs = graft.model.Tables.documents(spark, sf).count()
    assert(meta.count() == docs)
    // the dispatcher SNIFFS the container: the derived media_type must
    // be the one the synthesizer chose by doc_id
    val mism = meta.toDF().filter(col("media_type") =!=
      when(col("doc_id") % 3 === 0, "image")
        .when(col("doc_id") % 3 === 1, "audio").otherwise("video"))
    assert(mism.count() == 0)
    // every tier decodes REAL bytes: no zero-size payloads, images are
    // single-frame, audio carries sample frames, video raster dims
    assert(meta.filter(col("n_bytes") <= 0).count() == 0)
    assert(meta.filter(col("media_type") === "image" && col("n_frames") =!= 1).count() == 0)
    assert(meta.filter(col("media_type") === "audio" && col("n_frames") < 1).count() == 0)
    assert(meta.filter(col("media_type") === "video" &&
      (col("width") < 2 || col("height") < 2 || col("n_frames") < 1)).count() == 0)
    meta.unpersist()
  }

  test("payload cache invalidates when documents are regenerated at the same path") {
    // ADVICE r9: a /tmp payload cache keyed on the sfDir path alone
    // silently served stale payloads after the driver regenerated test
    // data. The cache dir carries the documents table's version key
    // (total file length + newest mtime), so a rewrite at the same path
    // rebuilds — in this JVM as in the next.
    val dir = tempDir("mm_fp")
    graft.model.Tables.documents(spark, sf).limit(20)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(MultimodalOps.mediaTable(spark, dir).toDF().count() == 20)
    graft.model.Tables.documents(spark, sf).limit(35)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(MultimodalOps.mediaTable(spark, dir).toDF().count() == 35,
      "stale payload cache served after the documents table changed")
  }

  test("avi codec round-trips and rejects malformed payloads") {
    // synth → parse recovers exactly the parameters that built the bytes
    val (w, h, nf) = (7, 5, 3)
    val avi = MultimodalOps.synthAvi(w, h, nf)
    val fb = ((w * 3 + 3) / 4) * 4 * h
    assert(avi.length == 224 + nf * (8 + fb))
    val (dw, dh, dn, nb, probe) = MultimodalOps.decodeAvi(avi)
    assert((dw, dh, dn, nb) == ((w, h, nf, avi.length)))
    // probe = Σ_k frame k's first + last byte = k%251 + (k+fb-1)%251
    val expected = (0 until nf).map(k => (k % 251) + ((k + fb - 1) % 251)).sum
    assert(probe == expected)
    // malformed bytes must throw (quarantine path), not parse
    intercept[IllegalArgumentException] {
      MultimodalOps.decodeAvi(MultimodalOps.synthWav(8000, 1, 4))
    }
    intercept[IllegalArgumentException] {
      // truncated mid-movi: chunk size now exceeds the remaining bytes
      MultimodalOps.decodeAvi(avi.take(avi.length - fb / 2))
    }
    // header/stream consistency is enforced: declared ≠ counted throws
    val lying = avi.clone()
    java.nio.ByteBuffer.wrap(lying).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(32 + 16, nf + 1) // avih payload starts at 32; dwTotalFrames at +16
    intercept[IllegalArgumentException] { MultimodalOps.decodeAvi(lying) }
  }

  test("frame deltas detect a real scene cut in a patched video") {
    // the synthetic corpus's consecutive frames differ by a uniform
    // +1 mod 251, so no natural cut exists — patch frame 2 of a 4-frame
    // 2×2 video to a constant raster and the delta detector must flag
    // BOTH pairs that straddle it
    val avi = MultimodalOps.synthAvi(2, 2, 4)
    val fb = 16 // ((2*3+3)/4)*4 rowBytes = 8, ×2 rows
    val frame2Payload = 224 + 2 * (8 + fb) + 8
    (0 until fb).foreach(j => avi(frame2Payload + j) = 200.toByte)
    val deltas = MultimodalOps.frameDeltas(avi)
    // pair (0,1): every byte differs by exactly 1 → fb
    // pair (1,2): Σ |200 − (1+j)| for j<16 = 16·200 − Σ(1..16)
    // pair (2,3): Σ |(3+j) − 200| for j<16 = 16·200 − Σ(3..18)
    assert(deltas == Seq(16L, 3064L, 3032L))
    val sum = deltas.sum; val nP = deltas.length
    val cuts = deltas.count(d => d * nP * 10L > 12L * sum)
    assert(cuts == 2, s"expected the two straddling pairs flagged, got $cuts")
    // and an unpatched video has NO cut (all deltas equal)
    val clean = MultimodalOps.frameDeltas(MultimodalOps.synthAvi(2, 2, 4))
    assert(clean == Seq(16L, 16L, 16L))
    assert(clean.count(d => d * 3 * 10L > 12L * clean.sum) == 0)
  }

  test("wav codec round-trips and rejects malformed payloads") {
    // synth → parse recovers exactly the parameters that built the bytes
    val (rate, ch, n) = (22050, 2, 37)
    val wav = MultimodalOps.synthWav(rate, ch, n)
    assert(wav.length == 44 + n * ch * 2)
    assert(MultimodalOps.decodeWavMeta(wav) == ((rate, ch, 16, n * ch * 2)))
    // malformed bytes must throw (quarantine path), not parse
    intercept[IllegalArgumentException] {
      MultimodalOps.decodeWavMeta("RIFFxxxxJUNK".getBytes ++ Array.fill(40)(0.toByte))
    }
    intercept[IllegalArgumentException] {
      MultimodalOps.decodeWavMeta(MultimodalOps.synthPng(4, 4))
    }
    // distributed path: one decoded row per doc, duration consistent
    val meta = MultimodalOps.audioMeta(spark, sf).cache()
    assert(meta.count() == graft.model.Tables.documents(spark, sf).count())
    assert(meta.filter(col("duration_ms") =!=
      expr("cast(n_samples * 1000 div sample_rate as int)")).count() == 0)
    meta.unpersist()
  }

  test("pixel-bearing PNG decodes with javax.imageio and resizes to the exact pattern") {
    val (w, h) = (7, 5)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(MultimodalOps.synthPngPixels(w, h)))
    assert(img != null && img.getWidth == w && img.getHeight == h)
    // every pixel round-trips the synthesis formula through deflate +
    // filter + sRGB — not just the summary statistic
    for (y <- 0 until h; x <- 0 until w) {
      val rgb = img.getRGB(x, y)
      assert(((rgb >> 16) & 0xff) == (x + y) % 251, s"r at ($x,$y)")
      assert(((rgb >> 8) & 0xff) == (2 * x + y) % 251, s"g at ($x,$y)")
      assert((rgb & 0xff) == (x + 2 * y) % 251, s"b at ($x,$y)")
    }
    val out = MultimodalOps.imageResize(spark, sf)
    assert(out.count() == graft.model.Tables.documents(spark, sf).count())
    assert(out.filter(col("out_w") =!= expr("cast((in_w + 1) / 2 as int)") ||
      col("out_h") =!= expr("cast((in_h + 1) / 2 as int)")).count() == 0)
  }

  test("audio frame sampling reads the strided PCM amplitudes exactly") {
    // reference recompute straight from the synthesized bytes
    val (rate, ch, n) = (16000, 2, 43)
    val wav = MultimodalOps.synthWav(rate, ch, n)
    val off = MultimodalOps.wavDataOffset(wav)
    assert(off == 44) // canonical layout, found by walking, not assumed
    val buf = java.nio.ByteBuffer.wrap(wav)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val expected = (0 until n by MultimodalOps.FrameStride)
      .map(f => buf.getShort(off + f * ch * 2).toLong).sum
    // distributed op agrees doc-by-doc with its own formula
    val out = MultimodalOps.audioFrameSample(spark, sf).cache()
    assert(out.count() == graft.model.Tables.documents(spark, sf).count())
    assert(out.filter(col("n_sampled") =!=
      expr(s"cast(ceil(n_frames / ${MultimodalOps.FrameStride}.0) as bigint)"))
      .count() == 0)
    out.unpersist()
    assert(expected == (0 until n by MultimodalOps.FrameStride)
      .map(f => (f * ch * 2 % 251) + 256 * ((f * ch * 2 + 1) % 251))
      .map(v => if (v >= 32768) v - 65536L else v.toLong).sum,
      "oracle formula diverges from the real bytes")
  }

  test("funnel_steps stage counts are monotonically non-increasing from the signup base") {
    val rows = AnalyticOps.funnelSteps(spark, sf).collect()
    assert(rows.map(_.getAs[String]("step")).toSeq ==
      Seq("signup", "view", "click", "purchase"))
    val counts = rows.map(_.getAs[Long]("n_users"))
    assert(counts.head == graft.model.Tables.events(spark, sf)
      .filter(col("event_type") === "signup").select("user_id").distinct().count())
    counts.sliding(2).foreach { case Array(a, b) =>
      assert(b <= a, s"funnel stage grew: $a -> $b") }
  }

  test("retention_cohort offset 0 covers every user exactly once across cohorts") {
    val out = AnalyticOps.retentionCohort(spark, sf).cache()
    assert(out.filter(col("week_offset") < 0).count() == 0)
    val users = graft.model.Tables.events(spark, sf)
      .select("user_id").distinct().count()
    // each user is active in their own cohort week by construction
    val atZero = out.filter(col("week_offset") === 0)
      .agg(sum(col("n_users"))).head().getLong(0)
    assert(atZero == users, s"offset-0 total $atZero != $users distinct users")
    out.unpersist()
  }

  test("gaps_islands partitions each user's active days into maximal runs") {
    val out = AnalyticOps.gapsIslands(spark, sf).cache()
    // island length is exactly its day span (runs are consecutive)
    assert(out.filter(datediff(col("island_end"), col("island_start")) + 1
      =!= col("n_days")).count() == 0)
    // islands cover every distinct (user, day) exactly once
    val days = graft.model.Tables.events(spark, sf)
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct().count()
    assert(out.agg(sum(col("n_days"))).head().getLong(0) == days)
    // maximality: consecutive islands of one user are separated by a gap
    import spark.implicits._
    out.select("user_id", "island_start", "island_end").as[(Long, java.sql.Date, java.sql.Date)]
      .collect().groupBy(_._1).values.foreach { is =>
        is.sortBy(_._2.getTime).sliding(2).foreach {
          case Array((_, _, e1), (_, s2, _)) =>
            assert(s2.getTime - e1.getTime > 86400000L,
              s"adjacent islands touch: $e1 then $s2")
          case _ => ()
        }
      }
    out.unpersist()
  }

  test("chunk_overlap windows tile every token with stride overlap") {
    val w = CorpusOps.ChunkTokens
    val s = CorpusOps.ChunkStride
    val out = CorpusOps.chunkOverlap(spark, sf).cache()
    // all but the final chunk of each doc are full-width
    val lastIdx = out.groupBy(col("doc_id")).agg(max(col("chunk_id")).as("last_id"))
    assert(out.join(lastIdx, Seq("doc_id"))
      .filter(col("chunk_id") < col("last_id") && col("chunk_len") =!= w)
      .count() == 0, "non-final chunk not full width")
    // final chunk reaches the end of the token list: start + len == n + 1
    assert(out.join(lastIdx, Seq("doc_id"))
      .filter(col("chunk_id") === col("last_id"))
      .filter((col("chunk_id") - 1) * s + col("chunk_len") < least(col("n_tokens"), lit(w)))
      .count() == 0, "final chunk leaves tokens uncovered")
    // chunk count matches the ceil formula
    val bad = out.groupBy(col("doc_id"), col("n_tokens"))
      .agg(max(col("chunk_id")).as("n_chunks"))
      .filter(col("n_chunks") =!=
        greatest(ceil((col("n_tokens") - w) / s.toDouble).cast("int") + 1, lit(1)))
    assert(bad.count() == 0, "chunk count formula violated")
    out.unpersist()
  }

  test("cdc_upsert merges exactly: keys = base ∪ upserts − deletes, values from the right side") {
    val out = EventOps.cdcUpsert(spark, sf).cache()
    val ev = graft.model.Tables.events(spark, sf)
    val base = graft.model.Tables.customer(spark, sf)
      .select(col("c_custkey").as("key"), col("c_acctbal"))
    val latest = RelationalOps.latestPerKey(spark, sf)  // same total order
    val deleted = latest.filter(col("event_type") === "error").select(col("user_id").as("key"))
    val upserted = latest.filter(col("event_type") =!= "error").select(col("user_id").as("key"))
    // key set identity
    val expect = base.select("key").union(upserted).distinct().exceptAll(deleted.distinct())
    assert(out.select("key").exceptAll(expect).count() == 0 &&
      expect.exceptAll(out.select("key")).count() == 0, "merged key set wrong")
    // no deleted key survives; every upserted key is labeled upsert
    assert(out.join(deleted, Seq("key")).count() == 0)
    assert(out.join(upserted, Seq("key")).filter(col("op") =!= "upsert").count() == 0)
    // keep rows carry the base value untouched
    assert(out.filter(col("op") === "keep").join(base, Seq("key"))
      .filter(col("value") =!= round(col("c_acctbal"), 6)).count() == 0)
    out.unpersist()
  }

  test("semantic_dedup drops exactly the vectors with a lower-id in-cluster cosine>0.9 partner") {
    import spark.implicits._
    val out = SimilarityOps.semanticDedup(spark, sf).collect()
    val n = graft.model.Tables.embeddings(spark, sf).count()
    assert(out.length == n && out.map(_.getLong(0)).distinct.length == n)
    // independent driver-side recompute of the integer drop rule over
    // the same quantized codes, within the clusters the query reports
    val codes = graft.model.Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) AS v")
      .selectExpr("vec_id", "array_max(transform(v, x -> abs(x))) AS m", "v")
      .selectExpr("vec_id",
        "CASE WHEN m = 0D THEN transform(v, x -> 0D) " +
          "ELSE transform(v, x -> cast(floor(x * 127 / m + 0.5) as double)) END AS q")
      .as[(Long, Seq[Double])].collect().toMap
    def ldot(a: Seq[Double], b: Seq[Double]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum.toLong
    val expectedDropped = out.groupBy(_.getLong(1)).values.flatMap { cluster =>
      val ids = cluster.map(_.getLong(0)).sorted
      for {
        j <- ids.indices; i <- 0 until j
        (qa, qb) = (codes(ids(i)), codes(ids(j)))
        d = ldot(qa, qb)
        if d > 0 && SimilarityOps.SemDedupDen * d * d >
          SimilarityOps.SemDedupNum * ldot(qa, qa) * ldot(qb, qb)
      } yield ids(j)
    }.toSet
    assert(out.filterNot(_.getBoolean(2)).map(_.getLong(0)).toSet == expectedDropped)
    // the synthetic corpus contains near-identical vectors: some must drop
    assert(expectedDropped.nonEmpty, "fixture produced no semantic duplicates")
  }

  test("anomaly_zscore flags only full-frame outliers, sign-consistent with the mean") {
    val out = AnalyticOps.anomalyZscore(spark, sf).cache()
    assert(out.filter(abs(col("z")) <= 3.0).count() == 0)
    assert(out.filter((col("value") > col("mean")) =!= (col("z") > 0)).count() == 0)
    // an event inside the first ZscoreWindow rows of its type has no
    // full trailing frame and must never be flagged
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
    val early = graft.model.Tables.events(spark, sf)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= AnalyticOps.ZscoreWindow)
      .select("event_id")
    assert(out.join(early, Seq("event_id")).count() == 0)
    out.unpersist()
  }

  test("transition_matrix rows are probability distributions over a complete grid") {
    val out = AnalyticOps.transitionMatrix(spark, sf).cache()
    // each from_type's probabilities sum to 1 (round-trip tolerance from
    // the per-cell round(p, 6))
    val sums = out.groupBy("from_type").agg(sum(col("p")).as("ps"))
      .filter(abs(col("ps") - 1.0) > 1e-4)
    assert(sums.count() == 0)
    // total transitions = events - one lag-less first event per user
    val ev = graft.model.Tables.events(spark, sf)
    val expected = ev.count() - ev.select("user_id").distinct().count()
    assert(out.agg(sum(col("n"))).head.getLong(0) == expected)
    out.unpersist()
  }

  test("lateral_topk decorrelates to the window top-k answer") {
    val out = RelationalOps.lateralTopk(spark, sf).cache()
    // never more than 3 orders per customer
    assert(out.groupBy("c_custkey").count().filter(col("count") > 3).count() == 0)
    // equals the window formulation over the same data
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val expected = graft.model.Tables.orders(spark, sf)
      .join(graft.model.Tables.customer(spark, sf)
          .filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey")),
        col("o_custkey") === col("c_custkey"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("c_custkey", "o_orderkey", "o_totalprice")
      .orderBy(col("c_custkey"), col("o_totalprice").desc, col("o_orderkey"))
      .collect().toSeq
    assert(out.collect().toSeq == expected)
    assert(expected.nonEmpty)
    out.unpersist()
  }

  test("column_profile reports exact per-column statistics from one scan") {
    val out = AnalyticOps.columnProfile(spark, sf).cache()
    val rows = out.collect().map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("l_orderkey", "l_quantity", "l_discount",
      "l_returnflag", "l_linestatus"))
    val li = graft.model.Tables.lineitem(spark, sf)
    val n = li.count()
    assert(rows.values.forall(_.getAs[Long]("n_rows") == n))
    assert(rows("l_returnflag").getAs[Long]("n_distinct") ==
      li.select("l_returnflag").distinct().count())
    assert(rows("l_orderkey").getAs[Double]("min_num") <=
      rows("l_orderkey").getAs[Double]("max_num"))
    // one scan: melt-then-aggregate reads the table once, never 5 times
    // (counted on the optimized logical plan — the AQE-executed string
    // reprints subtrees and over-counts)
    val plan = AnalyticOps.columnProfile(spark, sf).queryExecution.optimizedPlan
    val scans = plan.collectLeaves().size
    assert(scans == 1, s"expected a single-pass profile, saw $scans scans")
    out.unpersist()
  }

  test("embed_dim_stats covers every dimension with exact counts and sane moments") {
    val out = SimilarityOps.embedDimStats(spark, sf).cache()
    val nvecs = graft.model.Tables.embeddings(spark, sf).count()
    val dims = out.count()
    assert(dims == 64, s"expected 64 dims, got $dims")
    assert(out.filter(col("n") =!= nvecs).count() == 0,
      "every dimension must see every vector")
    assert(out.filter(col("variance") < 0).count() == 0, "variance must be >= 0")
    // quantization error bound: the op's mean differs from a double-sum
    // mean by at most the 1e-6 fixed-point step
    val direct = graft.model.Tables.embeddings(spark, sf)
      .select(explode(col("embedding")).as("x"))
      .agg(avg(col("x"))).head.getDouble(0)
    val allMean = out.agg(avg(col("mean"))).head.getDouble(0)
    assert(math.abs(direct - allMean) < 1e-5, s"$direct vs $allMean")
    out.unpersist()
  }

  test("scd2_intervals stitches gap-free, change-only, per-user histories") {
    val out = EventOps.scd2Intervals(spark, sf).cache()
    // exactly one open (current) interval per user
    val users = graft.model.Tables.events(spark, sf).select("user_id").distinct().count()
    assert(out.filter(col("is_current")).count() == users)
    // intervals chain: next version's valid_from equals this valid_to,
    // and consecutive versions never carry the same state (true SCD2)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("version"))
    val chained = out
      .withColumn("next_from", lead(col("valid_from"), 1).over(w))
      .withColumn("next_state", lead(col("state"), 1).over(w))
    assert(chained.filter(col("next_from").isNotNull &&
      col("valid_to") =!= col("next_from")).count() == 0)
    assert(chained.filter(col("next_state").isNotNull &&
      col("next_state") === col("state")).count() == 0)
    out.unpersist()
  }

  test("queries degrade to empty results on empty tables, not errors") {
    // empty copies of every table, written with the canonical schemas
    val dst = tempDir("sf0")
    graft.model.Tables.events(spark, sf).limit(0)
      .write.mode("overwrite").parquet(s"$dst/events.parquet")
    for (t <- graft.model.Tables.names if t != "events")
      graft.model.Tables.load(spark, sf, t).limit(0)
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    for ((name, fn) <- SparkEntry.queries) {
      val n = fn(spark, dst).count() // must not throw
      // cache_empty/include_match report a boolean, the recall gates a
      // global aggregate, funnel_steps is four ungrouped aggregates
      // (one zero-count row per stage), triangle_count is a one-row
      // graph summary, dq_audit is one row per RULE, and lsh_tune is
      // pure planner math over a literal grid (reads no table at all) —
      // all are fixed-row-count by design, and their DuckDB oracles
      // return the same rows on empty input too
      assert(n == 0 || name == "cache_empty" || name == "include_match" ||
          name == "ann_recall" || name == "ivf_recall" || name == "pq_recall" ||
          name == "jl_recall" || name == "ivfpq_res_recall" ||
          name == "funnel_steps" ||
          name == "triangle_count" || name == "dq_audit" ||
          name == "lsh_tune" ||
          // one (n_common=0, tau=0) row — a global aggregate, and its
          // oracle's CASE emits the same single row on empty input
          name == "retrieval_tau" ||
          // one (count=0, chars=null) row per curation stage — the
          // DuckDB oracle returns the same 4 rows on empty input
          name == "pipeline_funnel" ||
          // one zero row per k threshold (frac null) — oracle identical
          name == "k_anonymity" ||
          // one zero row per l threshold (frac null) — oracle identical
          name == "l_diversity" ||
          // one zero row per t threshold (frac null) — oracle identical
          name == "t_closeness" ||
          // one zero-count row per threshold — the tuning curve's frame
          // is the literal threshold list, like lsh_tune's grid
          name == "dedup_threshold_sweep",
        s"$name returned $n rows on empty input")
    }
  }

  test("perplexity family is bit-identical with the vocab gate forced low (shuffle path)") {
    // r17 verdict item 2: above the row gate the vocab join degrades
    // from broadcast to a token-keyed shuffle — the physical form must
    // be value-neutral for both consumers of the NLL base.
    def snap() = Seq(
      SparkEntry.queries("perplexity_score")(spark, sf).collect().map(_.toString).sorted.toSeq,
      SparkEntry.queries("ppl_buckets")(spark, sf).collect().map(_.toString).sorted.toSeq)
    val base = snap()
    spark.conf.set(graft.api.GraftConfig.BroadcastGateKey, "0")
    try assert(snap() == base,
      "shuffle-path vocab join diverged from the broadcast path")
    finally spark.conf.unset(graft.api.GraftConfig.BroadcastGateKey)
  }

  test("mix_rebalance degrades to empty on empty input even with AQE off") {
    // ADVICE r17: the nlang guard used to hold on empty input only
    // because AQE empty-relation propagation pruned the cross join
    // before the raise_error projection evaluated. The guard now
    // exempts nlang=0 explicitly, so the contract must hold with
    // adaptive execution disabled (forced evaluation order).
    val dst = tempDir("sf0_aqe")
    graft.model.Tables.load(spark, sf, "documents").limit(0)
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      assert(SparkEntry.queries("mix_rebalance")(spark, dst).count() == 0)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("limit-bearing queries: collect() row count equals count() (AQE replanning guard)") {
    // The round-10 AQE hazard (PLANS.md): replanning dropped a fused
    // sort+limit on the collect/write path while count() still saw the
    // limited plan — collect-vs-count is the discriminating probe, so
    // every query whose plan carries a Limit gets swept here.
    // SCOPE (ADVICE round 10): this probe discriminates only when the
    // Limit feeds the FINAL output. Queries whose orderBy().limit() is
    // interior to the plan (the recall gates' top-k legs feeding a
    // 1-row aggregate) return the same row count either way, so for
    // interior limits the DuckDB oracle hash gate is the sole guard —
    // a dropped interior top-k changes the aggregated VALUE, which the
    // oracle compares bit-for-bit.
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, Offset}
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val df = fn(spark, sf)
      val limited = df.queryExecution.analyzed.collectFirst {
        case _: GlobalLimit => (); case _: LocalLimit => (); case _: Offset => ()
      }.nonEmpty
      if (limited) {
        val collected = df.collect().length.toLong
        val counted = fn(spark, sf).count()
        assert(collected == counted,
          s"$name: collect()=$collected but count()=$counted — limit lost in execution")
      }
      graft.api.Caches.release(spark)
    }
  }

  test("entry flagship returns rows (driver t1 contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("approx_distinct: exact side matches distinct_count, HLL verdict holds") {
    val rows = RelationalOps.approxDistinct(spark, sf).collect()
    val exact = RelationalOps.distinctCount(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.map(_.getString(0)).toSet == exact.keySet)
    for (r <- rows) {
      assert(r.getLong(1) == exact(r.getString(0)),
        s"${r.getString(0)}: exact side drifted")
      // the deterministic HLL estimate clears 3×rsd on this data — a
      // sketch regression flips this (and hash-fails the oracle gate)
      assert(r.getBoolean(2), s"${r.getString(0)}: HLL estimate out of bound")
    }
  }

  test("approx_percentiles: exact side matches percentiles, GK verdict holds") {
    val rows = AnalyticOps.approxPercentiles(spark, sf).collect()
    val exact = AnalyticOps.percentiles(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(rows.map(_.getString(0)).toSet == exact.keySet)
    for (r <- rows) {
      assert((r.getDouble(1), r.getDouble(2), r.getDouble(3)) ==
        exact(r.getString(0)), s"${r.getString(0)}: exact side drifted")
      // each sketch percentile lies inside the exact ±0.02 rank window
      assert(r.getBoolean(4), s"${r.getString(0)}: GK estimate out of window")
    }
  }

  test("image decode: synthesized PNG/JPEG headers parse back exactly; garbage quarantines") {
    for ((w, h) <- Seq((1, 1), (640, 480), (17, 300))) {
      assert(MultimodalOps.decodeImageMeta(MultimodalOps.synthPng(w, h)) == ("png", w, h))
      assert(MultimodalOps.decodeImageMeta(MultimodalOps.synthJpeg(w, h)) == ("jpeg", w, h))
    }
    // an independent JVM decoder agrees on the dimensions — the bytes
    // are real images, not a private format
    for ((bytes, w, h) <- Seq((MultimodalOps.synthPng(33, 44), 33, 44),
        (MultimodalOps.synthJpeg(55, 66), 55, 66))) {
      val in = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val readers = javax.imageio.ImageIO.getImageReaders(in)
      assert(readers.hasNext, "ImageIO recognized the format")
      val r = readers.next()
      r.setInput(in)
      assert(r.getWidth(0) == w && r.getHeight(0) == h)
      r.dispose(); in.close()
    }
    intercept[IllegalArgumentException] {
      MultimodalOps.decodeImageMeta(Array[Byte](1, 2, 3, 4))
    }
  }

  test("every query key is oracle-bearing (zero no_oracle rows since r15)") {
    // the former sketch exceptions (HLL distinct, GK percentiles,
    // count-min heavy hitters) became accuracy-gate queries in round 15:
    // exact side + deterministic within-bound verdict, the ann_recall way
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle.isEmpty, s"queries without oracle: $noOracle")
  }

  test("path_topk: user coverage, 5-bounded paths, frequency-descending") {
    val rows = operators.AnalyticOps.pathTopk(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 10)
    // every path has 1..5 steps, each a known event type
    val types = Set("signup", "view", "click", "purchase", "error")
    for (r <- rows) {
      val steps = r.getString(0).split(">")
      assert(steps.nonEmpty && steps.length <= 5 && steps.forall(types))
      assert(r.getLong(1) > 0L)
    }
    val ns = rows.map(_.getLong(1)).toSeq
    assert(ns == ns.sorted.reverse)
  }

  test("gap_percentiles: ordered quantiles over positive gaps for every event type") {
    val rows = operators.AnalyticOps.gapPercentiles(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSet ==
      Set("signup", "view", "click", "purchase", "error"))
    for (r <- rows) {
      val (p50, p90, p99) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(p50 >= 0.0 && p50 <= p90 && p90 <= p99, s"quantiles out of order: $r")
      assert(r.getLong(1) > 0L)
    }
  }

  test("dim_corr_topk: valid Pearson values in |corr|-descending order") {
    val rows = operators.SimilarityOps.dimCorrTopk(spark, sf).collect()
    assert(rows.length == operators.SimilarityOps.DimCorrTopK)
    for (r <- rows) {
      assert(r.getInt(0) < r.getInt(1), "pair not ordered dim_i < dim_j")
      assert(math.abs(r.getDouble(2)) <= 1.0 + 1e-9, s"corr out of range: $r")
    }
    val mags = rows.map(r => math.abs(r.getDouble(2))).toSeq
    assert(mags == mags.sorted.reverse, "not in |corr|-descending order")
  }

  test("dq_audit: six rules, and exactly the two known data defects fire") {
    val rows = operators.RelationalOps.dqAudit(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.keySet == Set("li_quantity_range", "li_ship_after_order",
      "orders_total_reconciles", "orders_customer_ri",
      "events_event_id_unique", "docs_nchars_consistent"))
    // the generator ships shipdates independent of the order date and a
    // random o_totalprice — those two rules MUST fire; the rest must not
    assert(rows("li_ship_after_order") > 0L)
    assert(rows("orders_total_reconciles") > 0L)
    assert(rows("li_quantity_range") == 0L && rows("orders_customer_ri") == 0L &&
      rows("events_event_id_unique") == 0L && rows("docs_nchars_consistent") == 0L)
  }

  test("product_quantize codes every (vector, subspace) from the seed codebook") {
    val rows = operators.SimilarityOps.productQuantize(spark, sf).collect()
    val nVecs = graft.model.Tables.embeddings(spark, sf).count()
    assert(rows.length == nVecs * operators.SimilarityOps.PqSubspaces,
      "one code per (vector, subspace)")
    for (r <- rows) {
      assert(r.getInt(1) >= 0 && r.getInt(1) < operators.SimilarityOps.PqSubspaces)
      assert(r.getLong(2) >= 0L && r.getLong(2) < operators.SimilarityOps.PqK,
        s"code outside the seed codebook: $r")
      assert(r.getDouble(3) >= 0.0, s"negative quantization error: $r")
    }
    // a Lloyd update can only empty a cell, never invent one
    val perSub = rows.groupBy(_.getInt(1)).map { case (_, g) => g.map(_.getLong(2)).distinct.size }
    assert(perSub.forall(_ <= operators.SimilarityOps.PqK))
  }

  test("ann_pq returns 5 ADC-nearest vectors that are genuinely near the probe") {
    val got = operators.SimilarityOps.annPq(spark, sf).collect()
    assert(got.length == 5)
    val dists = got.map(_.getDouble(1)).toSeq
    assert(dists == dists.sorted, "not in ascending ADC distance order")
    assert(dists.forall(_ >= 0.0))
    // accuracy bound (the ann_recall discipline): every ADC winner must sit
    // in the closer HALF of the corpus by exact full-vector distance
    val e = graft.model.Tables.embeddings(spark, sf)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
    val probe = e.filter(col("vec_id") === 0).select(col("v").as("p"))
    val dp = graft.functions.VectorFunctions.dot_product(col("v"), col("v")) -
      lit(2.0) * graft.functions.VectorFunctions.dot_product(col("v"), col("p")) +
      graft.functions.VectorFunctions.dot_product(col("p"), col("p"))
    val exact = e.crossJoin(broadcast(probe)).filter(col("vec_id") =!= 0)
      .select(col("vec_id"), dp.as("d")).collect()
      .sortBy(_.getDouble(1)).map(_.getLong(0))
    val closerHalf = exact.take(exact.length / 2).toSet
    val hits = got.map(_.getLong(0)).count(closerHalf)
    assert(hits == 5, s"ADC returned far vectors: $hits/5 in the closer half")
  }

  test("pq_recall reports a consistent one-row recall@5 of ADC vs exact L2") {
    val r = operators.SimilarityOps.pqRecall(spark, sf).collect()
    assert(r.length == 1)
    val (k, hits, recall) = (r(0).getInt(0), r(0).getLong(1), r(0).getDouble(2))
    assert(k == 5)
    assert(hits >= 0L && hits <= 5L)
    assert(math.abs(recall - hits / 5.0) < 1e-9, "recall ≠ hits/k")
  }

  test("ann_ivfpq returns exact-ranked survivors drawn from at most 2 IVF lists") {
    val got = operators.SimilarityOps.annIvfPq(spark, sf).collect()
    assert(got.length == 5)
    val ds = got.map(_.getDouble(1)).toSeq
    assert(ds == ds.sorted && ds.forall(_ >= 0.0), "not ascending exact distances")
    // every survivor must live in one of the probe's 2 probed IVF lists —
    // kmeans_assign shares the identical centroids/assignment machinery
    val clusters = operators.SimilarityOps.kmeansAssign(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hit = got.map(r => clusters(r.getLong(0))).distinct
    assert(hit.length <= 2, s"results span ${hit.length} IVF lists: ${hit.toSeq}")
  }

  test("ppl_buckets cuts each language into balanced thirds with ordered means") {
    val rows = operators.CorpusOps.pplBuckets(spark, sf).collect()
    val perLang = rows.groupBy(_.getString(0))
    val docsPerLang = graft.model.Tables.documents(spark, sf)
      .groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perLang.keySet == docsPerLang.keySet)
    for ((lang, g) <- perLang) {
      val byBucket = g.map(r => r.getString(1) -> r).toMap
      assert(byBucket.keySet.subsetOf(Set("head", "middle", "tail")))
      assert(g.map(_.getLong(2)).sum == docsPerLang(lang), s"$lang docs not partitioned")
      // rank tertiles: bucket sizes differ by at most 1
      val sizes = g.map(_.getLong(2))
      assert(sizes.max - sizes.min <= 1, s"$lang buckets unbalanced: ${sizes.toSeq}")
      // head = most fluent (lowest NLL) third
      for (hi <- byBucket.get("head"); mid <- byBucket.get("middle"); ta <- byBucket.get("tail")) {
        assert(hi.getDouble(3) <= mid.getDouble(3) + 1e-9)
        assert(mid.getDouble(3) <= ta.getDouble(3) + 1e-9)
      }
    }
  }

  test("dataset_card reconciles with the operators it summarizes") {
    val card = operators.TextOps.datasetCard(spark, sf).collect()
    assert(card.length == 1)
    val r = card(0)
    val docs = graft.model.Tables.documents(spark, sf)
    assert(r.getLong(0) == docs.count())
    assert(r.getLong(2) == docs.select("lang").distinct().count())
    assert(r.getLong(3) == docs.select("source").distinct().count())
    // dup counts reconcile with the dedup operators' row counts
    val exactKept = operators.TextOps.dedupExact(spark, sf).count()
    val fuzzyKept = operators.TextOps.dedupFuzzy(spark, sf).count()
    assert(r.getLong(4) == r.getLong(0) - exactKept, "exact-dup count diverged")
    assert(r.getLong(5) == r.getLong(0) - fuzzyKept, "norm-dup count diverged")
    assert(r.getLong(5) >= r.getLong(4), "normalization can only merge more")
    assert(r.getDouble(6) > 0 && r.getDouble(7) > 0 && r.getDouble(7) <= 1.0)
  }

  test("image_phash never splits identical images; image_dedup canonicals are exact") {
    // images are a pure function of doc_id mod 96 (dims mod 32/24 +
    // fixed pixel formula) — identical images MUST share a phash; the
    // perceptual hash may additionally merge distinct gradients
    // (documented dHash coarseness), so classes only ever coarsen
    val ph = operators.MultimodalOps.imagePhash(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ph.nonEmpty)
    for ((_, members) <- ph.groupBy(_._1 % 96))
      assert(members.values.toSet.size == 1,
        "identical images (same id mod 96) received different phashes")
    assert(ph.forall { case (_, h) => h >= 0 && h < (1L << 60) },
      "phash must fit 60 bits")
    val dd = operators.MultimodalOps.imageDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getLong(3)))
    assert(dd.map(_._1).toSet == ph.keySet)
    for ((hash, members) <- dd.groupBy(_._2)) {
      val canonicals = members.filter(_._3)
      assert(canonicals.length == 1, s"phash $hash has ${canonicals.length} canonicals")
      assert(canonicals.head._1 == members.map(_._1).min, "canonical must be min id")
      assert(members.forall(_._4 == members.length), "class_size wrong")
    }
  }

  test("audio_fingerprint never splits identical tracks; audio_dedup canonicals are exact") {
    // audio payloads are pure functions of doc_id mod 100 (rate mod 4,
    // channels mod 2, frames mod 100 — lcm 100): identical tracks must
    // share a fingerprint; the sketch may merge distinct tracks
    val fp = operators.MultimodalOps.audioFingerprint(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp.nonEmpty)
    for ((_, members) <- fp.groupBy(_._1 % 100))
      assert(members.values.toSet.size == 1,
        "identical tracks (same id mod 100) received different fingerprints")
    // max bit index is 62 (32 aHash + 31 diff) → hash is non-negative
    assert(fp.forall { case (_, h) => h >= 0 })
    assert(fp.values.toSet.size > 1, "all tracks collapsed to one class — vacuous")
    val dd = operators.MultimodalOps.audioDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getLong(3)))
    assert(dd.map(_._1).toSet == fp.keySet)
    for ((hash, members) <- dd.groupBy(_._2)) {
      val canonicals = members.filter(_._3)
      assert(canonicals.length == 1 && canonicals.head._1 == members.map(_._1).min)
      assert(members.forall(_._4 == members.length))
    }
  }

  test("dedup_survivorship picks each group's max-quality member, min id on ties") {
    val groups = operators.TextOps.dedupGroups(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val quality = operators.TextOps.qualityScore(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(4)).toMap
    val got = operators.TextOps.dedupSurvivorship(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    // one row per component, sizes reconcile with the canonical view
    val canonical = operators.TextOps.dedupCanonical(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.map(_._1).toSet == canonical.keySet)
    for ((gid, survivor, q, sz) <- got) {
      assert(sz == canonical(gid))
      val members = groups.filter(_._2 == gid).keys.toSeq
      assert(members.contains(survivor), s"survivor $survivor not in group $gid")
      val bestQ = members.map(quality).max
      assert(q == bestQ, s"group $gid survivor quality $q != max $bestQ")
      assert(survivor == members.filter(quality(_) == bestQ).min,
        s"group $gid: ties must break to min doc_id")
    }
    // the policy must genuinely differ from keep-min-id somewhere, or the
    // query is dedup_canonical with extra columns
    assert(got.exists { case (gid, survivor, _, sz) => sz > 1 && survivor != gid },
      "max-quality survivor never differed from the min-id canonical")
  }

  test("anomaly_mad agrees with a driver-side robust recomputation per user") {
    val flagged = operators.AnalyticOps.anomalyMad(spark, sf).collect()
    assert(flagged.nonEmpty, "no MAD outliers at this SF — vacuous")
    val byUser = graft.model.Tables.events(spark, sf)
      .select("event_id", "user_id", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._2)
    def medianOf(xs: Seq[Double]): Double = { // type-7 interpolated, like both engines
      val s = xs.sorted
      val h = (s.length - 1) * 0.5
      val lo = s(h.toInt); val hi = s(math.ceil(h).toInt)
      lo + (h - h.toInt) * (hi - lo)
    }
    val expected = byUser.flatMap { case (_, evs) =>
      val med = BigDecimal(medianOf(evs.map(_._3)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val mad = BigDecimal(medianOf(evs.map(e => math.abs(e._3 - med))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if (mad <= 0.0) Seq.empty[Long]
      else evs.toSeq.flatMap { case (id, _, v) =>
        val score = BigDecimal(math.abs(v - med) / (1.4826 * mad))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        if (score > 3.0) Seq(id) else Seq.empty
      }
    }.toSet
    assert(flagged.map(_.getLong(0)).toSet == expected,
      "flagged event set diverged from the driver-side MAD recomputation")
    assert(flagged.forall(_.getDouble(5) > 3.0))
  }

  test("kmeans_iterate: Lloyd inertia is non-increasing across the unrolled rounds") {
    val rows = operators.SimilarityOps.kmeansIterate(spark, sf).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    val inertia = rows.map(_.getDouble(1))
    for (i <- 1 until inertia.length)
      assert(inertia(i) <= inertia(i - 1) + 1e-3,
        s"inertia rose at round ${i + 1}: ${inertia.toSeq}")
    // round 1 counts every vector as newly assigned
    val n = graft.model.Tables.embeddings(spark, sf).count()
    assert(rows(0).getLong(2) == n)
    assert(rows.forall(r => r.getLong(2) >= 0 && r.getLong(2) <= n))
  }

  test("ivf_build_stats reconciles with kmeans_assign: same lists, same member counts") {
    val stats = operators.SimilarityOps.ivfBuildStats(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val assign = operators.SimilarityOps.kmeansAssign(spark, sf).collect()
      .map(_.getLong(1)).groupBy(identity).map { case (c, xs) => c -> xs.length.toLong }
    assert(stats.keySet == assign.keySet)
    for ((cid, (n, share)) <- stats) {
      assert(n == assign(cid))
      assert(share > 0.0 && share <= 1.0)
    }
    val total = assign.values.sum
    assert(stats.values.map(_._1).sum == total)
    assert(math.abs(stats.values.map(_._2).sum - 1.0) < 1e-4)
  }

  test("gopher_rules: keep is the rule conjunction and every ratio is internally consistent") {
    import org.apache.spark.sql.functions._
    val rows = operators.TextOps.gopherRules(spark, sf).collect()
    assert(rows.length == 500)
    for (r <- rows) {
      val (nWords, meanWlen, symRatio, alphaFrac, stopDistinct) =
        (r.getInt(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getInt(5))
      val bools = (6 to 10).map(r.getBoolean)
      assert(r.getInt(11) == bools.count(identity), "n_passed != rule sum")
      assert(r.getBoolean(12) == bools.forall(identity), "keep != conjunction")
      assert(bools(0) == (nWords >= 50 && nWords <= 100000))
      assert(bools(4) == (stopDistinct >= 2))
      // this corpus: pure lowercase word soup — the symbol rule is an
      // exact zero and every word is alphabetic (honest degenerate values)
      assert(symRatio == 0.0 && alphaFrac == 1.0)
      assert(meanWlen > 0.0)
    }
    // the word-count rule genuinely splits this corpus (median ≈ 56 words)
    val kept = rows.count(_.getBoolean(6))
    assert(kept > 0 && kept < rows.length, "r_words should discriminate here")
  }

  test("intradoc_dedup reconciles with passage_dedup's per-doc passage totals") {
    import org.apache.spark.sql.functions._
    val intra = operators.CorpusOps.intradocDedup(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val cross = operators.CorpusOps.passageDedup(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(intra.keySet == cross.keySet)
    for ((doc, (nPass, nUnique)) <- intra) {
      assert(nPass == cross(doc), s"doc $doc: passage totals diverge between the two views")
      assert(nUnique >= 1 && nUnique <= nPass)
    }
    // a duplicated 10-token window is statistically impossible in random
    // word soup (confirmed: zero at sf0.001 AND sf0.01), so the corpus
    // run above proves the all-unique branch; the duplicate branch is
    // driven with constructed docs
    assert(intra.values.forall { case (p, u) => u == p })
    import spark.implicits._
    val w10 = (1 to 10).map(i => s"tok$i").mkString(" ")
    val constructed = Seq(
      (1L, s"$w10 $w10 $w10"),            // one passage repeated 3×
      (2L, s"$w10 " + (11 to 20).map(i => s"tok$i").mkString(" ")), // 2 unique
      (3L, "short doc"))                  // single ragged passage
      .toDF("doc_id", "norm")
    val got = operators.CorpusOps.intradocDedupOf(constructed).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got(1L) == ((3L, 1L, 0.666667)), s"got ${got(1L)}")
    assert(got(2L) == ((2L, 2L, 0.0)))
    assert(got(3L) == ((1L, 1L, 0.0)))
  }

  test("ppl_bigram scores every 2+-token doc with exactly n_tokens-1 bigrams") {
    import org.apache.spark.sql.functions._
    val got = operators.CorpusOps.pplBigram(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val toks = graft.model.Tables.documents(spark, sf)
      .select(col("doc_id"),
        size(split(trim(regexp_replace(lower(col("text")), "\\s+", " ")), " ")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got.keySet == toks.filter(_._2 >= 2).keySet)
    for ((doc, (nb, nll)) <- got) {
      assert(nb == toks(doc) - 1, s"doc $doc: bigram count != tokens - 1")
      assert(nll > 0.0, s"doc $doc: NLL must be positive under a smoothed LM")
    }
  }

  test("semantic_decontaminate flags only train vectors against genuine eval near-dups") {
    val flagged = operators.SimilarityOps.semanticDecontaminate(spark, sf).collect()
    assert(flagged.nonEmpty, "no contamination found — vacuous on this corpus")
    val pairSet = operators.SimilarityOps.embeddingNeardup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    for (r <- flagged) {
      val (train, eval, cos) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      assert(train % 50 != 0, s"$train is an eval vector — must never be flagged")
      assert(eval % 50 == 0, s"$eval is not an eval vector")
      assert(cos >= 0.4)
      val key = if (train < eval) (train, eval) else (eval, train)
      assert(pairSet.get(key).contains(cos),
        s"flagged pair $key not in (or disagreeing with) the near-dup pair table")
    }
  }

  test("residual IVF-ADC beats plain IVF-ADC on mean recall over a probe sweep") {
    // The round-10 verdict's acceptance bar for residual encoding:
    // recall ≥ the non-residual composite on the same corpus. A single
    // probe is far too noisy to compare index quality (probe 0 happens
    // to favor the plain path at sf0.01 while the 10-probe means favor
    // residual at BOTH SFs — measured during development), so the gate
    // averages the composite recall@5 over 10 probes, each index's ten
    // probes coming from ONE probe-keyed search.
    import org.apache.spark.sql.functions._
    def dotE(a: String, b: String) =
      expr(s"aggregate(zip_with($a, $b, (x, y) -> x * y), 0D, (acc, x) -> acc + x)")
    val probes = 0 until 10
    // per-probe top-5 by (d, vec_id) of (probe, vec_id, d) rows, ranked
    // on the driver
    def top5(rows: Array[org.apache.spark.sql.Row]): Map[Long, Set[Long]] =
      rows.map(r => (r.getAs[Long]("probe"), r.getAs[Long]("vec_id"), r.getAs[Double]("d")))
        .groupBy(_._1).map { case (p, rs) =>
          p -> rs.sortBy(r => (r._3, r._2)).take(5).map(_._2).toSet }
    val e = graft.model.Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
    val pv = e.filter(col("vec_id") < probes.size)
      .select(col("vec_id").as("probe"), col("v").as("p"))
    val exact5 = top5(e.crossJoin(broadcast(pv)).filter(col("vec_id") =!= col("probe"))
      .select(col("probe"), col("vec_id"),
        round(dotE("v", "v") - lit(2.0) * dotE("v", "p") + dotE("p", "p"), 6).as("d"))
      .collect())
    assert(exact5.keySet == probes.map(_.toLong).toSet)
    val plain5 = top5(SimilarityOps.annIvfPqAt(spark, sf, probes).collect())
    val res5 = top5(SimilarityOps.annIvfPqResAt(spark, sf, probes).collect())
    graft.api.Caches.release(spark)
    def meanRecall(found: Map[Long, Set[Long]]): Double =
      exact5.map { case (p, ex) => ex.intersect(found.getOrElse(p, Set.empty)).size / 5.0 }
        .sum / probes.size
    val (plainMean, resMean) = (meanRecall(plain5), meanRecall(res5))
    info(f"mean recall@5 over ${probes.size} probes: plain=$plainMean%.2f residual=$resMean%.2f")
    assert(resMean >= plainMean,
      f"residual encoding must not LOWER mean recall: residual=$resMean%.2f < plain=$plainMean%.2f")
    // and the default-probe gate query reports a sane recall row
    val gate = SimilarityOps.ivfpqResRecall(spark, sf).collect()
    assert(gate.length == 1 && gate(0).getInt(0) == 5)
    assert(gate(0).getDouble(2) >= 0.0 && gate(0).getDouble(2) <= 1.0)
  }

  test("dedup_threshold_sweep is monotone non-increasing and endpoint-consistent") {
    val rows = TextOps.dedupThresholdSweep(spark, sf).collect()
    assert(rows.map(_.getAs[Double]("threshold")).toSeq == Seq(0.5, 0.6, 0.7, 0.8, 0.9))
    val ps = rows.map(_.getAs[Long]("n_pairs"))
    val ds = rows.map(_.getAs[Long]("n_docs"))
    // raising the bar can only drop pairs/docs
    assert(ps.zip(ps.tail).forall { case (a, b) => a >= b }, "pairs not monotone")
    assert(ds.zip(ds.tail).forall { case (a, b) => a >= b }, "docs not monotone")
    // a pair touches exactly 2 docs, docs can repeat across pairs
    rows.foreach { r =>
      val (p, d) = (r.getAs[Long]("n_pairs"), r.getAs[Long]("n_docs"))
      assert(d <= 2 * p, s"docs $d exceed 2×pairs $p")
      assert(p == 0 || d >= 2, "pairs without docs")
    }
  }

  test("silhouette, 1-NN label accuracy, and collocations hold their defining bounds") {
    // centroid silhouette: d2 >= d1 by construction, so every cluster
    // mean sits in [0, 1); cluster ids are the kmeans seeds
    val sil = SimilarityOps.kmeansSilhouette(spark, sf).collect()
    assert(sil.nonEmpty && sil.length <= 8)
    sil.foreach { r =>
      val s = r.getAs[Double]("avg_sil")
      assert(s >= 0.0 && s < 1.0, s"avg_sil $s outside [0,1)")
      assert(r.getAs[Long]("n") >= 1)
    }
    // sizes cover the whole corpus (every vector is assigned somewhere)
    assert(sil.map(_.getAs[Long]("n")).sum ==
      graft.model.Tables.embeddings(spark, sf).count())
    // 1-NN label accuracy: a valid fraction over the scored subset
    val acc = SimilarityOps.knnLabelAccuracy(spark, sf).head()
    val (n, c, a) = (acc.getAs[Long]("n_scored"), acc.getAs[Long]("n_correct"),
      acc.getAs[Double]("accuracy"))
    assert(n >= 1 && c >= 0 && c <= n && math.abs(a - c.toDouble / n) < 1e-6)
    // collocations: pmi-ordered, support floor respected
    val col9 = CorpusOps.collocationTopk(spark, sf).collect()
    assert(col9.nonEmpty && col9.length <= 20)
    assert(col9.forall(_.getAs[Long]("c") >= 5), "support floor violated")
    val pmis = col9.map(_.getAs[Double]("pmi"))
    assert(pmis.zip(pmis.tail).forall { case (x, y) => x >= y }, "not pmi-ordered")
  }

  // the sweep contract shared by every *_probe_sweep key: probes 0..9,
  // recall = hits/5, and probe 0's row IS the single-probe gate's value —
  // the sweep subsumes it, the other nine rows are what de-noises it.
  // Returns the mean sweep recall.
  private def checkProbeSweep(
      sweep: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame,
      gate: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
    val rows = sweep(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("probe")).toSeq == (0L until 10L))
    rows.foreach { r =>
      val (h, rec) = (r.getAs[Long]("hits"), r.getAs[Double]("recall"))
      assert(h >= 0 && h <= 5 && math.abs(rec - h / 5.0) < 1e-9, s"$r")
    }
    val single = gate(spark, sf).head().getAs[Long]("hits")
    assert(rows.find(_.getAs[Long]("probe") == 0L).get.getAs[Long]("hits") == single)
    rows.map(_.getAs[Double]("recall")).sum / rows.length
  }

  test("ann_probe_sweep reports every probe and contains the single-probe recall") {
    val mean = checkProbeSweep(SimilarityOps.annProbeSweep, SimilarityOps.annRecall)
    // a 22-bucket multi-probe LSH at 6 planes should beat chance easily
    // ON AVERAGE even when individual probes hit 0 (the noise the sweep
    // exists to average out)
    assert(mean > 0.2, s"mean sweep recall $mean suspiciously low")
  }

  test("ivf_probe_sweep mirrors the LSH sweep contract and its probe 0 matches ivf_recall") {
    checkProbeSweep(SimilarityOps.ivfProbeSweep, SimilarityOps.ivfRecall)
  }

  test("pq_probe_sweep mirrors the sweep contract and its probe 0 matches pq_recall") {
    checkProbeSweep(SimilarityOps.pqProbeSweep, SimilarityOps.pqRecall)
  }

  test("ivfpq_res_probe_sweep mirrors the sweep contract and probe 0 matches ivfpq_res_recall") {
    // the full residual read path (per-list LUTs, probed-list encode,
    // exact re-rank) reproduced under the sweep's windowed form
    checkProbeSweep(SimilarityOps.ivfpqResProbeSweep, SimilarityOps.ivfpqResRecall)
  }

  test("embed_standardize and embed_outlier produce genuinely standardized scores") {
    // per-dim z: mean ≈ 0, var ≈ 1 for every dimension
    val z = SimilarityOps.embedStandardize(spark, sf).collect()
      .groupBy(_.getAs[Int]("dim")).values
    z.foreach { dimRows =>
      val zs = dimRows.map(_.getAs[Double]("z"))
      val m = zs.sum / zs.length
      val v = zs.map(x => (x - m) * (x - m)).sum / zs.length
      assert(math.abs(m) < 1e-4, s"dim mean $m not ~0")
      assert(math.abs(v - 1.0) < 1e-3, s"dim var $v not ~1")
    }
    // corpus z over d²: ~0 mean, unit var, and the flag matches z > 2
    val o = SimilarityOps.embedOutlier(spark, sf).collect()
    val oz = o.map(_.getAs[Double]("z"))
    assert(math.abs(oz.sum / oz.length) < 1e-4)
    assert(math.abs(oz.map(x => x * x).sum / oz.length - 1.0) < 1e-3)
    o.foreach(r => assert(r.getAs[Boolean]("is_outlier") == (r.getAs[Double]("z") > 2.0)))
    // flagged fraction is tail-sized, not mass-sized (2σ on ~any shape)
    val frac = o.count(_.getAs[Boolean]("is_outlier")).toDouble / o.length
    assert(frac < 0.2, s"$frac of vectors flagged — not an outlier gate")
  }

  test("weighted_sample is the exact A-Res top-k, skews long, and merges like bottom-k") {
    val out = PipelineOps.weightedSample(spark, sf).collect()
    assert(out.length == 100)
    assert(out.map(_.getAs[Long]("rank")).toSeq == (1L to 100L))
    // keys in (0, 1], non-increasing along rank
    val keys = out.map(_.getAs[Double]("wkey"))
    assert(keys.forall(k => k > 0.0 && k <= 1.0))
    assert(keys.zip(keys.tail).forall { case (a, b) => a >= b })
    // equals the brute-force A-Res top-k over ALL docs
    def allKeys = graft.model.Tables.documents(spark, sf)
      .select(col("doc_id"), col("n_chars"),
        round(exp(log((expr("cast(conv(substring(md5(concat('wks:', cast(doc_id as string))), 1, 7), 16, 10) as bigint)") + lit(0.5)) / lit(268435456.0))
          / col("n_chars").cast("double")), 6).as("wkey"))
      .collect().map(r => (-r.getDouble(2), r.getLong(0), r.getLong(1)))
    val brute = allKeys.sorted.take(100)
    assert(out.map(r => (-r.getAs[Double]("wkey"), r.getAs[Long]("doc_id"))).toSeq
      == brute.map(t => (t._1, t._2)).toSeq)
    // WEIGHTED: inclusion probability rises with n_chars, so the sample
    // mean length must exceed the corpus mean decisively
    val sampleMean = out.map(_.getAs[Long]("n_chars").toDouble).sum / out.length
    val corpusMean = allKeys.map(_._3.toDouble).sum / allKeys.length
    assert(sampleMean > corpusMean,
      s"weighted sample mean $sampleMean not above corpus mean $corpusMean")
    // mergeability (the A-Res property): top-k(all) == top-k(top-k(evens) ∪ top-k(odds))
    val partMerge = (allKeys.filter(_._2 % 2 == 0).sorted.take(100) ++
      allKeys.filter(_._2 % 2 == 1).sorted.take(100)).sorted.take(100)
    assert(partMerge.toSeq == brute.toSeq)
  }

  test("q10_returned_revenue equals the unlimited aggregate's true top-20") {
    val out = RelationalOps.q10ReturnedRevenue(spark, sf).collect()
    assert(out.nonEmpty && out.length <= 20)
    val revs = out.map(_.getAs[Double]("revenue"))
    assert(revs.forall(_ > 0.0))
    assert(revs.zip(revs.tail).forall { case (a, b) => a >= b }, "not revenue-ordered")
    // independent recomputation without the limit: the query's rows are
    // exactly the global top-20 under (revenue desc, custkey)
    val full = graft.model.Tables.orders(spark, sf)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
      .join(graft.model.Tables.lineitem(spark, sf)
        .filter(col("l_returnflag") === "R"),
        col("l_orderkey") === col("o_orderkey"))
      .join(graft.model.Tables.customer(spark, sf),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1) - col("l_discount").cast("decimal(9,4)"))).cast("double").as("rev"))
      .collect().map(r => (-r.getDouble(1), r.getLong(0)))
      .sorted.take(out.length)
    assert(out.map(r => (-r.getAs[Double]("revenue"), r.getAs[Long]("c_custkey"))).toSeq
      == full.toSeq)
  }

  test("lsh_bucket_profile tiles the band rows exactly and bounds the candidate pairs") {
    val rows = operators.TextOps.lshBucketProfile(spark, sf).collect()
    assert(rows.nonEmpty)
    // every doc contributes exactly MinhashBands band rows (any doc has
    // >= 1 shingle), so the histogram tiles 4 x N
    val nDocs = graft.model.Tables.documents(spark, sf).count()
    assert(rows.map(r => r.getAs[Long]("bucket_sz") * r.getAs[Long]("n_buckets")).sum
      == 4 * nDocs, "bucket sizes do not tile the band rows")
    // per-row pair arithmetic is the exact C(sz,2) mass
    rows.foreach { r =>
      val (sz, nb, np) = (r.getAs[Long]("bucket_sz"), r.getAs[Long]("n_buckets"),
        r.getAs[Long]("n_pairs"))
      assert(np == nb * sz * (sz - 1) / 2)
    }
    // the histogram's pair mass upper-bounds the DISTINCT candidate
    // pairs (a pair colliding in several bands is counted per band
    // here, once in the cand table)
    val distinctPairs = operators.TextOps.dedupMinhashPairs(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_pairs")).sum >= distinctPairs)
  }

  test("q6_forecast_revenue matches a driver-side exact-decimal recomputation") {
    import java.math.{BigDecimal => JBD, RoundingMode}
    val row = RelationalOps.q6ForecastRevenue(spark, sf).head()
    val (rev, n) = (row.getAs[Double]("revenue"), row.getAs[Long]("n_lines"))
    assert(n > 0 && rev > 0.0)
    val rows = graft.model.Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_quantity") < 24)
      .select(col("l_extendedprice"), col("l_discount")).collect()
      .map(r => (new JBD(r.getDouble(0)).setScale(2, RoundingMode.HALF_UP),
        new JBD(r.getDouble(1)).setScale(4, RoundingMode.HALF_UP)))
      .filter { case (_, d) =>
        d.compareTo(new JBD("0.05")) >= 0 && d.compareTo(new JBD("0.07")) <= 0 }
    assert(n == rows.length)
    val exact = rows.map { case (ep, d) => ep.multiply(d) }
      .foldLeft(JBD.ZERO)(_.add(_))
    assert(math.abs(rev - exact.doubleValue()) < 1e-6,
      s"engine revenue $rev != exact ${exact.doubleValue()}")
  }

  test("bottomk_sample is the exact hash-order bottom-k and merges like a real sampler") {
    val out = PipelineOps.bottomkSample(spark, sf).collect()
    assert(out.length == 100)
    // ranks dense from 1, hash non-decreasing along rank
    assert(out.map(_.getAs[Long]("rank")).toSeq == (1L to 100L))
    val hks = out.map(_.getAs[Long]("hk"))
    assert(hks.zip(hks.tail).forall { case (a, b) => a <= b })
    // equals the brute-force bottom-k over ALL docs (TakeOrdered ≡ sort+take)
    val brute = graft.model.Tables.documents(spark, sf)
      .select(col("doc_id"),
        expr("cast(conv(substring(md5(concat('btk:', cast(doc_id as string))), 1, 7), 16, 10) as bigint)").as("hk"))
      .collect().map(r => (r.getLong(1), r.getLong(0))).sorted.take(100)
    assert(out.map(r => (r.getAs[Long]("hk"), r.getAs[Long]("doc_id"))).toSeq
      == brute.toSeq)
    // mergeability: bottom-k(all) == bottom-k(bottom-k(evens) ∪ bottom-k(odds))
    val (evens, odds) = brute.toSeq.partition(_._2 % 2 == 0)
    val all = graft.model.Tables.documents(spark, sf)
      .select(col("doc_id"),
        expr("cast(conv(substring(md5(concat('btk:', cast(doc_id as string))), 1, 7), 16, 10) as bigint)").as("hk"))
      .collect().map(r => (r.getLong(1), r.getLong(0)))
    val partMerge = (all.filter(_._2 % 2 == 0).sorted.take(100) ++
      all.filter(_._2 % 2 == 1).sorted.take(100)).sorted.take(100)
    assert(partMerge.toSeq == brute.toSeq, "bottom-k not mergeable")
  }

  test("lsh_tune matches the closed-form S-curve and picks the threshold-nearest split") {
    val rows = TextOps.lshTune(spark, sf).collect()
    assert(rows.length == 8)
    rows.foreach { r =>
      val (b, rr) = (r.getAs[Int]("b"), r.getAs[Int]("r"))
      assert(b * rr == 128)
      def p(s: Double) = 1.0 - math.exp(b * math.log(1 - math.exp(rr * math.log(s))))
      assert(math.abs(r.getAs[Double]("threshold") -
        math.exp(-math.log(b.toDouble) / rr)) < 1e-6)
      assert(math.abs(r.getAs[Double]("p_at_80") - p(0.8)) < 1e-6)
      // the S-curve is a probability and monotone in s
      assert(r.getAs[Double]("p_at_50") <= r.getAs[Double]("p_at_80") + 1e-9)
      assert(r.getAs[Double]("p_at_80") <= r.getAs[Double]("p_at_90") + 1e-9)
    }
    // thresholds strictly decrease as bands grow; chosen = nearest to 0.8
    val byB = rows.sortBy(_.getAs[Int]("b"))
    val thr = byB.map(_.getAs[Double]("threshold"))
    assert(thr.zip(thr.tail).forall { case (a, c) => a > c })
    val chosen = rows.filter(_.getAs[Boolean]("chosen"))
    assert(chosen.length == 1)
    assert((chosen.head.getAs[Int]("b"), chosen.head.getAs[Int]("r")) == ((8, 16)),
      "expected the 8x16 split (threshold 0.871) nearest the 0.8 target")
  }

  test("quota_sample keeps exactly min(quota, group size) per source, ranks dense from 1") {
    val out = PipelineOps.quotaSample(spark, sf).cache()
    val groupSizes = graft.model.Tables.documents(spark, sf)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val quota = 10L
    val kept = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept.keySet == groupSizes.keySet)
    for ((src, n) <- kept)
      assert(n == math.min(quota, groupSizes(src)), s"$src kept $n of ${groupSizes(src)}")
    // ranks are 1..n per source (the two-phase rank equals one dense window)
    for (r <- out.groupBy("source").agg(min("rank"), max("rank"), count(lit(1))).collect())
      assert(r.getLong(1) == 1L && r.getLong(2) == r.getLong(3), s"ranks not dense: $r")
    // two-phase == single-window oracle shape: the kept set is the q smallest hashes
    val hk = expr("cast(conv(substring(md5(concat('qta:', cast(doc_id as string))), 1, 7), 16, 10) as bigint)")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(hk, col("doc_id"))
    val direct = graft.model.Tables.documents(spark, sf)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= quota)
      .select("doc_id", "source", "rank")
    assert(out.exceptAll(direct).count() == 0 && direct.exceptAll(out).count() == 0)
    out.unpersist()
  }

  test("dp_counts: bounded deterministic Laplace noise, never the exact count leaked as zero-noise everywhere") {
    val rows = PipelineOps.dpCounts(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val exact = graft.model.Tables.documents(spark, sf)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.keySet == exact.keySet)
    // inverse-CDF bound: |noise| <= b * ln(2^28) (u is at least 0.5/2^28 from the edges)
    val bound = 10.0 * math.log(268435456.0)
    for ((src, dp) <- rows)
      assert(math.abs(dp - exact(src)) <= bound, s"$src noise out of bound: $dp vs ${exact(src)}")
    // noise actually engages (not the exact counts re-released)
    assert(rows.count { case (s, dp) => math.abs(dp - exact(s)) > 0.01 } > rows.size / 2)
    // deterministic re-run — the DP-critical property (averaging attack)
    val again = PipelineOps.dpCounts(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(again == rows)
  }

  test("heavy_hitters reports the true top-5 keys with exact counts and shares") {
    val rows = AnalyticOps.heavyHitters(spark, sf).collect()
    val all = graft.model.Tables.events(spark, sf).select("user_id").collect()
      .map(_.getLong(0))
    val counts = all.groupBy(identity).map { case (u, xs) => u -> xs.length.toLong }
    val top = counts.toSeq.sortBy { case (u, n) => (-n, u) }.take(5)
    assert(rows.map(r => r.getLong(0) -> r.getLong(1)).toSeq == top)
    for (r <- rows)
      assert(math.abs(r.getDouble(2) - r.getLong(1) * 100.0 / all.length) < 1e-6)
  }

  test("key_skew_profile histogram covers every distinct key with consistent bucket bounds") {
    val rows = AnalyticOps.keySkewProfile(spark, sf).collect()
    val users = graft.model.Tables.events(spark, sf).select("user_id").distinct().count()
    assert(rows.map(_.getLong(1)).sum == users, "n_users must sum to distinct keys")
    for (r <- rows) {
      val lo = r.getLong(0)
      assert(lo % 10 == 0)
      assert(r.getLong(2) >= lo && r.getLong(2) <= r.getLong(3) && r.getLong(3) < lo + 10,
        s"bucket bounds violated: $r")
    }
  }

  test("jl_project emits 16 rounded coordinates per vector matching a driver-side replay") {
    val out = SimilarityOps.jlProject(spark, sf).cache()
    val nvecs = graft.model.Tables.embeddings(spark, sf).count()
    assert(out.count() == nvecs * 16)
    // replay three vectors against an independent driver-side projection
    val embs = graft.model.Tables.embeddings(spark, sf)
      .filter(col("vec_id") < 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def sign(pl: Int, d: Int): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$pl:$d".getBytes("UTF-8")).map("%02x".format(_)).mkString.substring(0, 4)
      if (Integer.parseInt(hex, 16) % 2 == 1) 1.0 else -1.0
    }
    val got = out.filter(col("vec_id") < 3).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    for ((vid, v) <- embs; j <- 0 until 16) {
      var acc = 0.0
      for (d <- 0 until 64) acc += v(d) * sign(2000 + j, d)
      val expect = BigDecimal(acc / 4.0).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(got((vid, j)) - expect) < 1e-9, s"vec $vid dim $j")
    }
    out.unpersist()
  }

  test("jl_recall is one sane row and agrees with a direct intersection of the two top-5s") {
    val r = SimilarityOps.jlRecall(spark, sf).collect()
    assert(r.length == 1)
    val hits = r(0).getLong(1)
    assert(r(0).getInt(0) == 5 && hits >= 0 && hits <= 5)
    assert(math.abs(r(0).getDouble(2) - hits / 5.0) < 1e-9)
  }

  test("bpe_merge_topk matches a driver-side replay of the first BPE merge count") {
    val rows = CorpusOps.bpeMergeTopk(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // independent replay: corpus-wide adjacent-pair counts over normalized words
    val norm = graft.model.Tables.documents(spark, sf)
      .select(regexp_replace(lower(col("text")), "\\s+", " ").as("n"))
      .collect().map(_.getString(0).trim)
    val counts = scala.collection.mutable.Map.empty[String, Long]
    for (doc <- norm; w <- doc.split(" ") if w.length >= 2; i <- 0 until w.length - 1)
      counts(w.substring(i, i + 2)) = counts.getOrElse(w.substring(i, i + 2), 0L) + 1L
    val expect = counts.toSeq.sortBy { case (p, n) => (-n, p) }.take(20)
    assert(rows.toSeq == expect)
  }

  test("pack_efficiency reconciles with sequence_pack and its fill formula") {
    val packs = PipelineOps.sequencePack(spark, sf).cache()
    val eff = PipelineOps.packEfficiency(spark, sf).collect()
    // every shard appears once; docs and tokens reconcile with the pack layout
    val byShard = packs.groupBy("shard")
      .agg(count(lit(1)).as("d"), sum("n_tokens").as("t"),
        countDistinct("pack_id").as("p")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(eff.map(_.getLong(0)).toSet == byShard.keySet)
    for (r <- eff) {
      val (d, t, p) = byShard(r.getLong(0))
      assert(r.getLong(1) == p && r.getLong(2) == d && r.getLong(3) == t, s"mismatch: $r")
      val fill = BigDecimal(t.toDouble * 100.0 / (p.toDouble * 2048.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getDouble(5) - fill) < 1e-6, s"fill formula: $r vs $fill")
      // a pack never exceeds budget by more than one doc's tail
      assert(r.getLong(4) >= 1L)
    }
    packs.unpersist()
  }

  test("char_entropy matches a driver-side replay and stays in [0, ln(alphabet)]") {
    val out = operators.TextOps.charEntropy(spark, sf).cache()
    val norm = graft.model.Tables.documents(spark, sf)
      .select(col("doc_id"), regexp_replace(lower(col("text")), "\\s+", " ").as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1).trim).toMap
    val got = out.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet == norm.filter(_._2.nonEmpty).keySet)
    for ((id, text) <- norm if text.nonEmpty) {
      val counts = text.groupBy(identity).map { case (_, cs) => cs.length.toLong }
      val n = text.length.toLong
      val expect = counts.map { c =>
        val p = c.toDouble / n.toDouble
        BigDecimal(-p * math.log(p)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      }.sum.toDouble
      val (gn, ge) = got(id)
      assert(gn == n, s"doc $id char count")
      assert(math.abs(ge - expect) < 1e-9, s"doc $id entropy $ge vs $expect")
      assert(ge >= 0.0 && ge <= math.log(counts.size.toDouble) + 1e-6)
    }
    out.unpersist()
  }

  test("zipf_slope reports a negative log-log slope matching a driver-side OLS replay") {
    val rows = CorpusOps.zipfSlope(spark, sf).collect()
    assert(rows.length == 1)
    val (n, slope, intercept) = (rows(0).getLong(0), rows(0).getDouble(1), rows(0).getDouble(2))
    assert(slope < 0.0, s"rank-frequency slope must be negative, got $slope")
    // replay: same vocab cut, same round-6 quantization, same OLS chain
    val norm = graft.model.Tables.documents(spark, sf)
      .select(regexp_replace(lower(col("text")), "\\s+", " ").as("n"))
      .collect().map(_.getString(0).trim)
    val counts = scala.collection.mutable.Map.empty[String, Long]
    for (doc <- norm; t <- doc.split(" ") if t.nonEmpty)
      counts(t) = counts.getOrElse(t, 0L) + 1L
    val top = counts.toSeq.sortBy { case (t, c) => (-c, t) }.take(100)
    assert(n == top.length.toLong)
    def q6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val xs = top.indices.map(i => q6(math.log((i + 1).toDouble)))
    val ys = top.map { case (_, c) => q6(math.log(c.toDouble)) }
    val (sx, sy) = (xs.sum.toDouble, ys.sum.toDouble)
    val sxy = xs.zip(ys).map { case (a, b) => a * b }.sum.toDouble
    val sxx = xs.map(a => a * a).sum.toDouble
    val nd = top.length.toDouble
    val sl = (nd * sxy - sx * sy) / (nd * sxx - sx * sx)
    assert(math.abs(slope - q6(sl).toDouble) < 1e-9, s"$slope vs $sl")
    assert(math.abs(intercept - q6((sy - sl * sx) / nd).toDouble) < 1e-9)
  }

  test("langid_confusion cells reconcile with lang_id row by row") {
    val cells = operators.TextOps.langidConfusion(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val perDoc = operators.TextOps.langId(spark, sf)
      .select("lang", "predicted_lang").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val expect = perDoc.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    assert(cells == expect)
    assert(cells.values.sum == graft.model.Tables.documents(spark, sf).count())
  }

  test("bigram_entropy matches a driver-side replay of the conditional entropy") {
    val rows = CorpusOps.bigramEntropy(spark, sf).collect()
    assert(rows.length == 1)
    val (nb, nt, h) = (rows(0).getLong(0), rows(0).getLong(1), rows(0).getDouble(2))
    val norm = graft.model.Tables.documents(spark, sf)
      .select(regexp_replace(lower(col("text")), "\\s+", " ").as("n"))
      .collect().map(_.getString(0).trim)
    val cuv = scala.collection.mutable.Map.empty[(String, String), Long]
    for (doc <- norm; toks = doc.split(" ") if toks.length >= 2;
         i <- 0 until toks.length - 1)
      cuv((toks(i), toks(i + 1))) = cuv.getOrElse((toks(i), toks(i + 1)), 0L) + 1L
    val cu = cuv.groupBy(_._1._1).map { case (u, m) => u -> m.values.sum }
    val total = cuv.values.sum
    assert(nb == total && nt == cuv.size.toLong)
    val expect = cuv.map { case ((u, _), c) =>
      val term = -(c.toDouble / total.toDouble) * math.log(c.toDouble / cu(u).toDouble)
      BigDecimal(term).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    }.sum.toDouble
    assert(math.abs(h - expect) < 1e-9, s"$h vs $expect")
    assert(h >= 0.0)
  }

  test("cross_source_neardup reconciles with the candidate pair table and source labels") {
    val cells = operators.TextOps.crossSourceNeardup(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val srcOf = graft.model.Tables.documents(spark, sf)
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = operators.TextOps.dedupMinhashPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expect = pairs.map { case (a, b) => (srcOf(a), srcOf(b)) }
      .filter { case (sa, sb) => sa != sb }
      .map { case (sa, sb) => (Seq(sa, sb).min, Seq(sa, sb).max) }
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    assert(cells == expect)
  }

  test("knn_graph ranks each vector's candidate neighbors by cosine, dense from 1") {
    val out = SimilarityOps.knnGraph(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val pairs = SimilarityOps.embeddingNeardup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val adj = (pairs.map(p => (p._1, (p._2, p._3))) ++ pairs.map(p => (p._2, (p._1, p._3))))
      .groupBy(_._1).map { case (v, xs) =>
        v -> xs.map(_._2).sortBy { case (n, c) => (-c, n) }.take(3).zipWithIndex
          .map { case ((n, c), i) => (n, c, (i + 1).toLong) }.toSeq
      }
    val got = out.groupBy(_._1).map { case (v, xs) =>
      v -> xs.sortBy(_._4).map(t => (t._2, t._3, t._4)).toSeq
    }
    assert(got == adj)
    assert(out.nonEmpty, "fixture produced no neighbor edges")
  }

  test("minhash_est_error reconciles with a driver-side estimate-vs-exact replay") {
    val rows = operators.TextOps.minhashEstError(spark, sf).collect()
    assert(rows.length == 1)
    val (np, mean, mx) = (rows(0).getLong(0), rows(0).getDouble(1), rows(0).getDouble(2))
    val jac = operators.TextOps.ngramJaccard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(np == jac.size.toLong, "one error row per candidate pair")
    val sig = operators.TextOps.minhashSignature(spark, sf).collect()
      .map(r => r.getLong(0) -> (1 to 8).map(r.getString)).toMap
    val errs = jac.map { case ((a, b), j) =>
      val est = sig(a).zip(sig(b)).count { case (x, y) => x == y }.toDouble / 8.0
      BigDecimal(math.abs(est - j)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    }
    assert(math.abs(mean - (errs.sum.toDouble / errs.size)) < 1e-6)
    assert(math.abs(mx - errs.max.toDouble) < 1e-9)
    assert(mean >= 0.0 && mean <= 1.0 && mx <= 1.0)
  }

  test("dedup_rate_by_source totals reconcile with the dedup components") {
    val rows = operators.TextOps.dedupRateBySource(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val nDocs = graft.model.Tables.documents(spark, sf).count()
    val nGroups = operators.TextOps.dedupCanonical(spark, sf).count()
    assert(rows.map(_._2).sum == nDocs, "per-source docs must sum to the corpus")
    assert(rows.map(_._3).sum == nDocs - nGroups,
      "removed docs must equal docs minus components")
    for ((src, d, dup, pct) <- rows) {
      assert(dup <= d, s"$src dups exceed docs")
      assert(math.abs(pct - dup.toDouble * 100.0 / d.toDouble) < 1e-6)
    }
  }

  test("tfidf_cosine_topk ranks docs that actually contain query terms, cosine in range") {
    val rows = CorpusOps.tfidfCosineTopk(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.length == 20)
    val cosines = rows.map(_._2)
    assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b }, "not descending")
    assert(cosines.forall(c => c > 0.0 && c <= 1.0 + 1e-6), s"cosine out of range")
    // the query terms are the same mid-df derivation bm25 uses: every
    // ranked doc must contain at least one of them
    val norm = graft.model.Tables.documents(spark, sf)
      .select(col("doc_id"), regexp_replace(lower(col("text")), "\\s+", " ").as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1).trim.split(" ").toSet).toMap
    val dfCounts = norm.values.toSeq.flatMap(_.toSeq)
      .groupBy(identity).map { case (t, xs) => t -> xs.length }
    val terms = dfCounts.toSeq.sortBy { case (t, d) => (-d, t) }.slice(10, 15).map(_._1)
    for ((id, _) <- rows)
      assert(terms.exists(norm(id).contains), s"doc $id holds no query term")
  }

  test("rrf_fusion scores equal the reciprocal-rank sum over the two top-20 lists") {
    val fused = CorpusOps.rrfFusion(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(fused.length == 10)
    val ra = CorpusOps.bm25Topk(spark, sf).collect().map(_.getLong(0))
      .zipWithIndex.map { case (d, i) => d -> (i + 1) }.toMap
    val rb = CorpusOps.tfidfCosineTopk(spark, sf).collect().map(_.getLong(0))
      .zipWithIndex.map { case (d, i) => d -> (i + 1) }.toMap
    val expect = (ra.keySet ++ rb.keySet).toSeq.map { d =>
      val s = ra.get(d).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
        rb.get(d).map(r => 1.0 / (60 + r)).getOrElse(0.0)
      d -> BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.sortBy { case (d, s) => (-s, d) }.take(10)
    assert(fused.toSeq == expect)
  }

  test("session_stats rolls up sessionize per user exactly") {
    def us(t: java.sql.Timestamp): Long = t.getTime / 1000 * 1000000 + t.getNanos / 1000
    val sess = RelationalOps.sessionize(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2),
        us(r.getTimestamp(4)) - us(r.getTimestamp(3))))
    val stats = RelationalOps.sessionStats(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    val expect = sess.groupBy(_._1).map { case (u, ss) =>
      val n = ss.length.toLong
      val ev = ss.map(_._2).sum
      u -> (n, ev,
        BigDecimal(ev.toDouble / n.toDouble).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(ss.map(_._3).sum.toDouble / 1000000.0)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    assert(stats == expect)
  }

  test("jaccard_band_histogram buckets exactly the ngram_jaccard pair scores") {
    val hist = operators.TextOps.jaccardBandHistogram(spark, sf).collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap
    val jac = operators.TextOps.ngramJaccard(spark, sf).collect().map(_.getDouble(2))
    val expect = jac.map(j => math.floor(j * 10.0) / 10.0)
      .groupBy(identity).map { case (b, xs) => b -> xs.length.toLong }
    assert(hist == expect)
    assert(hist.values.sum == jac.length.toLong)
  }

  test("pipeline_funnel stages are monotone, composed, and match a driver recomputation") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val out = operators.TextOps.pipelineFunnel(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.map(_._1).toSeq ==
      Seq("s0_raw", "s1_quality", "s2_exact_dedup", "s3_fuzzy_dedup"))
    val docs = out.map(_._2); val chars = out.map(_._3)
    assert(docs.zip(docs.tail).forall { case (a, b) => a >= b }, "docs not monotone")
    assert(chars.zip(chars.tail).forall { case (a, b) => a >= b }, "chars not monotone")
    // driver-side composition over the collected corpus, stage by stage
    val all = graft.model.Tables.documents(spark, sf)
      .select("doc_id", "text", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val keep1 = operators.TextOps.qualityFilter(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val s1 = all.filter(d => keep1(d._1))
    def dedupBy(rows: Array[(Long, String, Long)], key: String => String) =
      rows.groupBy(d => key(d._2)).values.map(_.minBy(_._1)).toArray
    val s2 = dedupBy(s1, t => md5hex(t))
    val s3 = dedupBy(s2,
      t => md5hex(t.toLowerCase.replaceAll("\\s+", " ").trim))
    val expect = Seq(all, s1, s2, s3).map(ss => (ss.length.toLong, ss.map(_._3).sum))
    assert(out.map(t => (t._2, t._3)).toSeq == expect)
  }

  test("k_anonymity counts equivalence classes exactly and grows with k") {
    val out = PipelineOps.kAnonymity(spark, sf).collect()
      .map(r => r.getAs[Int]("k") ->
        ((r.getAs[Long]("violating_classes"), r.getAs[Long]("suppressed_records"),
          r.getAs[Double]("suppressed_frac"))))
    assert(out.map(_._1).toSeq == Seq(2, 5, 10))
    val rows = graft.model.Tables.documents(spark, sf)
      .select("lang", "source", "n_chars").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2) / 100))
    val classes = rows.groupBy(identity).values.map(_.length.toLong).toSeq
    out.foreach { case (k, (vc, sr, frac)) =>
      val viol = classes.filter(_ < k)
      assert(vc == viol.length, s"k=$k violating classes")
      assert(sr == viol.sum, s"k=$k suppressed records")
      assert(math.abs(frac -
        math.rint(viol.sum.toDouble / rows.length * 1e6) / 1e6) < 1e-9)
    }
    // suppression mass is monotone in k
    val srs = out.map(_._2._2)
    assert(srs.zip(srs.tail).forall { case (a, b) => a <= b })
  }

  test("l_diversity counts low-diversity classes exactly; exposure shrinks vs suppression") {
    val out = PipelineOps.lDiversity(spark, sf).collect()
      .map(r => r.getAs[Int]("l") ->
        ((r.getAs[Long]("violating_classes"), r.getAs[Long]("exposed_records"),
          r.getAs[Double]("exposed_frac"))))
    assert(out.map(_._1).toSeq == Seq(2, 3))
    // driver-side recount: classes under (source, len_bucket) with the
    // distinct-lang diversity of each
    val rows = graft.model.Tables.documents(spark, sf)
      .select("lang", "source", "n_chars").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2) / 100))
    val classes = rows.groupBy(d => (d._2, d._3)).values
      .map(ds => (ds.length.toLong, ds.map(_._1).distinct.length)).toSeq
    out.foreach { case (l, (vc, er, frac)) =>
      val viol = classes.filter(_._2 < l)
      assert(vc == viol.length, s"l=$l violating classes")
      assert(er == viol.map(_._1).sum, s"l=$l exposed records")
      assert(math.abs(frac -
        math.rint(viol.map(_._1).sum.toDouble / rows.length * 1e6) / 1e6) < 1e-9)
    }
    // exposure mass is monotone in l
    val ers = out.map(_._2._2)
    assert(ers.zip(ers.tail).forall { case (a, b) => a <= b })
  }

  test("t_closeness TVD matches a driver recount; exposure monotone decreasing in t") {
    val out = PipelineOps.tCloseness(spark, sf).collect()
      .map(r => r.getAs[Double]("t") ->
        ((r.getAs[Long]("violating_classes"), r.getAs[Long]("exposed_records"),
          r.getAs[Double]("exposed_frac"))))
    assert(out.map(_._1).toSeq == Seq(0.2, 0.35, 0.5))
    val rows = graft.model.Tables.documents(spark, sf)
      .select("lang", "source", "n_chars").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2) / 100))
    val n = rows.length.toDouble
    val globalP = rows.groupBy(_._1).map { case (l, ds) => l -> ds.length / n }
    val classes = rows.groupBy(d => (d._2, d._3)).values.map { ds =>
      val nc = ds.length.toDouble
      val pc = ds.groupBy(_._1).map { case (l, xs) => l -> xs.length / nc }
      // round-6 per term, exact sum — the engine's decimal discipline
      val tvd = globalP.keys.map { l =>
        BigDecimal(math.rint(math.abs(
          pc.getOrElse(l, 0.0) - globalP(l)) * 1e6) / 1e6).setScale(6)
      }.sum.toDouble / 2.0
      (ds.length.toLong, tvd)
    }.toSeq
    out.foreach { case (t, (vc, er, frac)) =>
      val viol = classes.filter(_._2 > t)
      assert(vc == viol.length, s"t=$t violating classes: got $vc want ${viol.length}")
      assert(er == viol.map(_._1).sum, s"t=$t exposed records")
      assert(math.abs(frac -
        math.rint(viol.map(_._1).sum / n * 1e6) / 1e6) < 1e-9)
    }
    // exposure shrinks as the tolerance t grows
    val ers = out.map(_._2._2)
    assert(ers.zip(ers.tail).forall { case (a, b) => a >= b })
  }

  test("dup_cluster_stats histogram accounts for every document and every group") {
    val rows = operators.TextOps.dupClusterStats(spark, sf).collect()
    val nDocs = graft.model.Tables.documents(spark, sf).count()
    val nGroups = operators.TextOps.dedupCanonical(spark, sf).count()
    assert(rows.map(_.getLong(2)).sum == nDocs, "documents not all accounted")
    assert(rows.map(_.getLong(1)).sum == nGroups, "groups not all accounted")
    for (r <- rows)
      assert(r.getLong(2) == r.getLong(0) * r.getLong(1), s"n_docs ≠ sz·n_groups: $r")
    val sizes = rows.map(_.getLong(0)).toSeq
    assert(sizes == sizes.sorted && sizes.distinct == sizes, "histogram keys not strictly ascending")
  }

  private def round6(v: Double): Double =
    BigDecimal(v).setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble

  test("weighted_percentiles equals the type-7 quantile over the weight-expanded multiset") {
    val got = operators.AnalyticOps.weightedPercentiles(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    val rows = graft.model.Tables.lineitem(spark, sf)
      .select(col("l_returnflag"),
        expr("cast(round(l_extendedprice * 100, 0) as bigint)"),
        expr("cast(l_quantity as bigint)"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    def q7(sorted: Array[Long], p: Double): Double = {
      val h = (sorted.length - 1) * p
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, sorted.length - 1)
      sorted(lo) + (h - lo) * (sorted(hi) - sorted(lo))
    }
    val expect = rows.groupBy(_._1).map { case (flag, rs) =>
      val expanded = rs.flatMap { case (_, c, w) => Array.fill(w.toInt)(c) }.sorted
      flag -> (rs.map(_._3).sum,
        round6(q7(expanded, 0.5) / 100.0),
        round6(q7(expanded, 0.9) / 100.0),
        round6(q7(expanded, 0.99) / 100.0))
    }
    assert(got == expect, s"weighted percentiles diverged:\n$got\nvs\n$expect")
  }

  test("length_gini_by_source equals the sorted-rank Gini per source") {
    val got = operators.CorpusOps.lengthGiniBySource(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val lens = graft.model.Tables.documents(spark, sf)
      .select(col("source"), col("n_chars"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val expect = lens.groupBy(_._1).map { case (src, rs) =>
      val xs = rs.map(_._2).sorted
      val n = xs.length.toLong
      val t = xs.sum
      val s = xs.zipWithIndex.map { case (x, i) => (i + 1L).toDouble * x }.sum
      src -> (n, t, round6(2.0 * s / (n.toDouble * t.toDouble) - (n + 1.0) / n))
    }
    assert(got.keySet == expect.keySet)
    for ((src, (n, t, g)) <- expect) {
      val (gn, gt, gg) = got(src)
      assert(gn == n && gt == t, s"$src counts diverged")
      assert(math.abs(gg - g) < 2e-6, s"$src gini $gg vs brute $g")
    }
    // sanity: every gini in [0, 1)
    assert(got.values.forall { case (_, _, g) => g >= 0.0 && g < 1.0 })
  }

  test("ngram_contamination_rate equals the brute-force window-overlap recount") {
    val got = operators.TextOps.ngramContaminationRate(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val docs = graft.model.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def splitOf(id: Long): String = {
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(s"spl:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val b = java.lang.Long.parseLong(md5.take(7), 16) % 1000
      if (b < 900) "train" else if (b < 950) "val" else "test"
    }
    def grams(text: String): Set[String] = {
      val toks = text.toLowerCase.replaceAll("\\s+", " ").trim.split(" ")
      if (toks.length < 8) Set.empty
      else toks.sliding(8).map(_.mkString(" ")).toSet
    }
    val bySplit = docs.groupBy(d => splitOf(d._1))
    val trainGrams = bySplit.getOrElse("train", Array.empty)
      .flatMap(d => grams(d._2)).toSet
    val expect = Seq("test", "val").map { s =>
      val ds = bySplit.getOrElse(s, Array.empty)
      val contaminated = ds.count(d => grams(d._2).exists(trainGrams))
      s -> (ds.length.toLong, contaminated.toLong,
        round6(contaminated.toDouble / ds.length))
    }.toMap
    assert(got == expect, s"contamination diverged:\n$got\nvs\n$expect")
    // the audit is non-vacuous on this corpus: planted clone families
    // straddle the fence
    assert(got.values.exists(_._2 > 0L), "no contamination found — fixture no longer exercises the audit")
  }

  test("time_split cuts at the type-7 0.8 percentile and counts straddling users") {
    val got = operators.PipelineOps.timeSplit(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getTimestamp(3).getTime,
          r.getTimestamp(4).getTime, r.getLong(5))).toMap
    val rows = graft.model.Tables.events(spark, sf)
      .selectExpr("user_id", "unix_micros(ts) AS us").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val us = rows.map(_._2).sorted
    val h = (us.length - 1) * 0.8
    val lo = math.floor(h).toInt
    val cut = us(lo) + (h - lo) * (us(math.min(lo + 1, us.length - 1)) - us(lo))
    val early = rows.filter(_._2 <= cut)
    val late = rows.filter(_._2 > cut)
    val shared = (early.map(_._1).toSet & late.map(_._1).toSet).size.toLong
    assert(got("early")._1 == early.length && got("late")._1 == late.length)
    assert(got("early")._2 == early.map(_._1).distinct.length)
    assert(got("late")._2 == late.map(_._1).distinct.length)
    assert(got("early")._5 == shared && got("late")._5 == shared)
    assert(got("early")._3 == early.map(_._2).min / 1000) // ms vs µs: ts getTime
    // temporal fence: nothing early is later than anything late
    assert(got("early")._4 < got("late")._3)
    // the split is non-degenerate and leakage-bearing on this feed
    assert(shared > 0L && late.nonEmpty)
  }

  test("contamination_by_source reconciles with the per-split rate query") {
    val bySource = operators.TextOps.contaminationBySource(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    val bySplit = operators.TextOps.ngramContaminationRate(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // totals reconcile: same eval universe, same contaminated doc set
    assert(bySource.values.map(_._1).sum == bySplit.values.map(_._1).sum)
    assert(bySource.values.map(_._2).sum == bySplit.values.map(_._2).sum)
    for ((s, (n, c, rate)) <- bySource) {
      assert(c <= n, s"$s contaminated > docs")
      assert(math.abs(rate - c.toDouble / n) < 2e-6, s"$s rate")
    }
    // non-vacuous: some source carries contamination
    assert(bySource.values.exists(_._2 > 0L))
  }

  test("ewma_smooth equals the sequential trailing-window EWMA recurrence") {
    val got = operators.AnalyticOps.ewmaSmooth(spark, sf).collect()
      .map(r => r.getLong(1) -> r.getDouble(4)).toMap
    val rows = graft.model.Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2).getTime, r.getDouble(3)))
    val expect = rows.groupBy(_._1).flatMap { case (_, rs) =>
      val ordered = rs.sortBy(r => (r._3, r._2))
      ordered.indices.map { t =>
        val win = ordered.slice(math.max(0, t - 19), t + 1)
        // newest-last: weight for lag d is 0.5^(d+1); normalizer 1 − 0.5^k
        val k = win.length
        val num = win.zipWithIndex.map { case (r, i) =>
          math.round(r._4 * 100).toDouble * math.pow(0.5, k - i)
        }.sum
        ordered(t)._2 -> num / ((1.0 - math.pow(0.5, k)) * 100.0)
      }
    }
    assert(got.size == rows.length)
    for ((id, e) <- expect)
      assert(math.abs(got(id) - e) < 2e-6, s"event $id ewma ${got(id)} vs brute $e")
  }

  test("cusum_changepoint picks the max-|S| position of the standardized cumsum") {
    val got = operators.AnalyticOps.cusumChangepoint(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(5)))
      .toMap
    val rows = graft.model.Tables.events(spark, sf)
      .select(col("event_type"), col("event_id"), col("ts"), col("value"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getTimestamp(2).getTime, r.getDouble(3)))
    val expect = rows.groupBy(_._1).map { case (tpe, rs) =>
      val cents = rs.sortBy(r => (r._3, r._2)).map(r => (r._2, math.round(r._4 * 100)))
      val n = cents.length.toDouble
      val sx = cents.map(_._2.toDouble).sum
      val sxx = cents.map(c => c._2.toDouble * c._2.toDouble).sum
      val mean = sx / n
      val std = math.sqrt((sxx - sx * sx / n) / (n - 1.0))
      var cum = 0L
      val stats = cents.zipWithIndex.map { case ((id, c), i) =>
        cum += c
        (i + 1L, id, (cum - (i + 1) * mean) / (std * math.sqrt(n)))
      }
      val best = stats.maxBy(s => (math.abs(s._3), -s._1))
      tpe -> (cents.length.toLong, best._1, best._2, best._3)
    }
    assert(got.keySet == expect.keySet)
    for ((tpe, (n, pos, id, s)) <- expect) {
      val (gn, gpos, gid, gs) = got(tpe)
      assert(gn == n && gpos == pos && gid == id, s"$tpe changepoint diverged: $gpos/$gid vs $pos/$id")
      assert(math.abs(gs - s) < 2e-6, s"$tpe stat $gs vs brute $s")
    }
  }

  test("source_overlap_jaccard equals the brute-force per-feed shingle-set Jaccard") {
    val got = operators.TextOps.sourceOverlapJaccard(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val docs = graft.model.Tables.documents(spark, sf)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    def shingles(text: String): Set[String] = {
      val toks = text.toLowerCase.replaceAll("\\s+", " ").trim.split(" ")
      if (toks.length >= 3) toks.sliding(3).map(_.mkString(" ")).toSet
      else Set(toks.mkString(" "))
    }
    val bySource = docs.groupBy(_._1).map { case (s, ds) => s -> ds.flatMap(d => shingles(d._2)).toSet }
    val expect = (for {
      a <- bySource.keys; b <- bySource.keys if a < b
      i = (bySource(a) & bySource(b)).size if i > 0
    } yield (a, b) -> (i.toLong,
      round6(i.toDouble / (bySource(a).size + bySource(b).size - i)))).toMap
    assert(got.keySet == expect.keySet, "pair set diverged")
    for ((k, (i, j)) <- expect) {
      assert(got(k)._1 == i, s"$k intersection ${got(k)._1} vs brute $i")
      assert(math.abs(got(k)._2 - j) < 2e-6, s"$k jaccard ${got(k)._2} vs brute $j")
    }
    assert(got.nonEmpty, "no overlapping feed pairs — fixture no longer exercises the op")
  }

  test("source_centroid_drift equals the brute-force quantized-centroid cosine") {
    val got = operators.SimilarityOps.sourceCentroidDrift(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val src = graft.model.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val vecs = graft.model.Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) as v")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray
        .map(x => math.floor(x * 1000000.0 + 0.5).toLong)))
    val bySource = vecs.groupBy(v => src(v._1))
    val dims = vecs.head._2.length
    def centroidSums(vs: Array[(Long, Array[Long])]): Array[BigInt] =
      (0 until dims).map(d => vs.map(v => BigInt(v._2(d))).sum).toArray
    val g1 = centroidSums(vecs)
    for ((s, vs) <- bySource) {
      val s1 = centroidSums(vs)
      val dot = (0 until dims).map(d => s1(d) * g1(d)).sum
      val ns2 = (0 until dims).map(d => s1(d) * s1(d)).sum
      val ng2 = (0 until dims).map(d => g1(d) * g1(d)).sum
      val cos = dot.toDouble / (math.sqrt(ns2.toDouble) * math.sqrt(ng2.toDouble))
      val (n, gcos, gdrift) = got(s)
      assert(n == vs.length.toLong, s"$s n_vecs $n vs ${vs.length}")
      assert(math.abs(gcos - cos) < 2e-6, s"$s cos $gcos vs brute $cos")
      assert(math.abs(gdrift - (1.0 - gcos)) < 2e-6, s"$s drift inconsistent")
    }
    assert(got.keySet == bySource.keySet)
  }

  test("value_autocorr equals the textbook sample ACF estimator") {
    val got = operators.AnalyticOps.valueAutocorr(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val rows = graft.model.Tables.events(spark, sf)
      .select(col("event_type"), col("event_id"), col("ts"), col("value"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getTimestamp(2).getTime, r.getDouble(3)))
    val expect = rows.groupBy(_._1).flatMap { case (tpe, rs) =>
      val x = rs.sortBy(r => (r._3, r._2)).map(r => math.round(r._4 * 100).toDouble)
      val n = x.length
      val mean = x.sum / n
      val den = x.map(v => (v - mean) * (v - mean)).sum
      (1L to 3L).map { k =>
        val num = (k.toInt until n).map(t => (x(t) - mean) * (x(t - k.toInt) - mean)).sum
        (tpe, k) -> num / den
      }
    }
    assert(got.keySet == expect.keySet)
    for ((key, e) <- expect)
      assert(math.abs(got(key) - e) < 2e-6, s"$key acf ${got(key)} vs brute $e")
    // serial independence sanity on the synthetic feed: |r_k| small
    assert(got.values.forall(v => math.abs(v) < 0.5))
  }

  test("burst_hours z-scores hourly rates over the COMPLETE hour spine") {
    val got = operators.AnalyticOps.burstHours(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getTimestamp(2).getTime, r.getLong(3), r.getDouble(4))).toMap
    val rows = graft.model.Tables.events(spark, sf)
      .select(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime))
    val hourMs = 3600L * 1000L
    val (hmin, hmax) = (rows.map(_._2).min, rows.map(_._2).max)
    val spine = hmin to hmax by hourMs
    val types = rows.map(_._1).distinct
    val counts = rows.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    for (tpe <- types) {
      val cells = spine.map(h => h -> counts.getOrElse((tpe, h), 0L))
      val n = cells.length.toDouble
      val sc = cells.map(_._2).sum.toDouble
      val scc = cells.map(c => c._2.toDouble * c._2).sum
      val mean = sc / n
      val std = math.sqrt((scc - sc * sc / n) / (n - 1.0))
      val top = cells.sortBy { case (h, c) => (-c, h) }.take(3)
      top.zipWithIndex.foreach { case ((h, c), i) =>
        val (gh, gc, gz) = got((tpe, i + 1L))
        assert(gh == h && gc == c, s"$tpe rank ${i + 1} cell ($gh,$gc) vs brute ($h,$c)")
        assert(math.abs(gz - (c - mean) / std) < 2e-6, s"$tpe z $gz")
      }
    }
    // bursts are real on this feed: top-1 z exceeds 2σ somewhere
    assert(got.collect { case ((_, 1L), (_, _, z)) => z }.exists(_ > 2.0))
  }

  test("rolling_median equals the brute-force trailing-window median") {
    val got = operators.AnalyticOps.rollingMedian(spark, sf).collect()
      .map(r => r.getLong(1) -> r.getDouble(4)).toMap
    val rows = graft.model.Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        (r.getTimestamp(2).getTime, r.getTimestamp(2).getNanos), r.getDouble(3)))
    val w = operators.AnalyticOps.RollMedianW
    val expect = rows.groupBy(_._1).flatMap { case (_, rs) =>
      val ordered = rs.sortBy(r => (r._3._1, r._3._2, r._2))
      ordered.indices.map { i =>
        val win = ordered.slice(math.max(0, i - w + 1), i + 1)
          .map(r => math.round(r._4 * 100)).sorted
        val k = win.length
        val med = (win((k - 1) / 2) + win(k / 2)).toDouble / 200.0
        ordered(i)._2 -> med
      }
    }
    assert(got.keySet == expect.keySet)
    for ((id, e) <- expect)
      assert(math.abs(got(id) - e) < 2e-6, s"event $id median ${got(id)} vs brute $e")
  }

  test("dow_hour_profile shares sum to 1 per type over the weekday matrix") {
    val got = operators.AnalyticOps.dowHourProfile(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4)))
    // every (type, dow) cell present, dow in 0..6 (Monday = 0)
    assert(got.forall { case ((_, d), _) => d >= 0L && d <= 6L })
    val byType = got.groupBy(_._1._1)
    for ((tpe, cells) <- byType) {
      val shareSum = cells.map(_._2._2).sum
      assert(math.abs(shareSum - 1.0) < 1e-4, s"$tpe shares sum to $shareSum")
      // rate_vs_uniform is share*7 cellwise
      cells.foreach { case ((_, d), (_, s, r)) =>
        assert(math.abs(r - s * 7.0) < 1e-5, s"$tpe dow $d rate $r vs share $s") }
    }
    // counts reconcile with the raw table
    val total = got.map(_._2._1).sum
    assert(total == graft.model.Tables.events(spark, sf).count())
  }

  test("ks_source_drift equals the brute-force two-sample KS statistic") {
    val got = operators.CorpusOps.ksSourceDrift(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val lens = graft.model.Tables.documents(spark, sf)
      .select(col("source"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val all = lens.map(_._2).sorted
    val ng = all.length.toDouble
    for ((src, rows) <- lens.groupBy(_._1)) {
      val xs = rows.map(_._2)
      val ns = xs.length.toDouble
      // sup over the observed length domain of |ECDF_s - ECDF_g|
      val d = all.distinct.map { x =>
        math.abs(xs.count(_ <= x) / ns - all.count(_ <= x) / ng)
      }.max
      val (gotN, gotD) = got(src)
      assert(gotN == xs.length.toLong)
      assert(math.abs(gotD - d) < 2e-6, s"$src KS $gotD vs brute $d")
    }
    // drift is bounded and nontrivial somewhere on the synthetic corpus
    assert(got.values.forall { case (_, d) => d >= 0.0 && d <= 1.0 })
    assert(got.values.exists(_._2 > 0.01))
  }

  test("retrieval_tau equals the brute-force Kendall tau over the common top-k docs") {
    val row = operators.CorpusOps.retrievalTau(spark, sf).collect().head
    val bm = operators.CorpusOps.bm25Topk(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    val tf = operators.CorpusOps.tfidfCosineTopk(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    // independent rank derivation: sort by (score desc, doc_id)
    val ra = bm.sortBy { case (id, s) => (-s, id) }.map(_._1).zipWithIndex.toMap
    val rb = tf.sortBy { case (id, s) => (-s, id) }.map(_._1).zipWithIndex.toMap
    val common = ra.keySet.intersect(rb.keySet).toSeq.sorted
    val pairs = for {
      i <- common.indices; j <- (i + 1) until common.size
    } yield (common(i), common(j))
    val conc = pairs.count { case (x, y) =>
      (ra(x) - ra(y)).sign * (rb(x) - rb(y)).sign > 0 }
    val disc = pairs.size - conc
    assert(row.getAs[Long]("n_common") == common.size.toLong)
    assert(row.getAs[Long]("concordant") == conc.toLong)
    assert(row.getAs[Long]("discordant") == disc.toLong)
    val tau = if (pairs.isEmpty) 0.0 else (conc - disc).toDouble / pairs.size
    assert(math.abs(row.getAs[Double]("tau") - tau) < 2e-6)
    // on this corpus the two lexical rankers genuinely correlate
    assert(row.getAs[Double]("tau") > 0.0)
  }

  test("fold_balance_chi2 terms equal the textbook independence statistic") {
    val got = operators.PipelineOps.foldBalanceChi2(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(got.nonEmpty)
    val o = got.map { case ((f, l), (n, _, _)) => (f, l) -> n }.toMap
    val rt = o.groupBy(_._1._1).map { case (f, m) => f -> m.values.sum }
    val ct = o.groupBy(_._1._2).map { case (l, m) => l -> m.values.sum }
    val n = o.values.sum.toDouble
    for (((f, l), (obs, e, term)) <- got) {
      val expE = rt(f) * ct(l) / n
      assert(math.abs(e - expE) < 2e-6, s"cell ($f,$l) expected $e vs $expE")
      val expT = (obs - expE) * (obs - expE) / expE
      assert(math.abs(term - expT) < 2e-5, s"cell ($f,$l) term $term vs $expT")
    }
    // counts reconcile with the corpus; the full matrix is present
    assert(o.values.sum == graft.model.Tables.documents(spark, sf).count())
    assert(got.length == rt.size * ct.size)
  }

  test("degree_distribution is the exact histogram of the candidate graph") {
    val got = operators.GraphOps.degreeDistribution(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = operators.TextOps.candidatePairs(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    val expect = pairs.flatMap(p => Seq(p._1, p._2))
      .groupBy(identity).map(_._2.length.toLong)
      .groupBy(identity).map { case (d, ns) => d -> ns.size.toLong }
    assert(got == expect)
    // handshake identity: sum(degree * n_nodes) = 2 * |edges|
    assert(got.map { case (d, c) => d * c }.sum == 2L * pairs.length)
  }

  test("knn_hubness is the exact in-degree histogram of the kNN graph incl. the zero bucket") {
    val got = operators.SimilarityOps.knnHubness(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val edges = operators.SimilarityOps.knnGraph(spark, sf).collect()
      .map(_.getAs[Long]("nbr"))
    val nVecs = graft.model.Tables.embeddings(spark, sf).count()
    val indeg = edges.groupBy(identity).map { case (_, es) => es.length.toLong }
    val nonZero = indeg.groupBy(identity).map { case (d, xs) => d -> xs.size.toLong }
    val expect = nonZero + (0L -> (nVecs - indeg.size))
    assert(got == expect.filter(_._2 > 0L))
    // mass identities: every vector bucketed once; total in-degree = |E|
    assert(got.values.sum == nVecs)
    assert(got.map { case (d, c) => d * c }.sum == edges.length.toLong)
  }

  test("burst_hours_seasonal z-scores against the SAME-WEEKDAY baseline") {
    val got = operators.AnalyticOps.burstHoursSeasonal(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getTimestamp(2).getTime, r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    val plain = operators.AnalyticOps.burstHours(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getTimestamp(2).getTime, r.getLong(3))).toMap
    // the RANK orders by (count, hour) in both ops — same burst cells,
    // different z baselines
    assert(got.keySet == plain.keySet)
    for ((k, (h, _, c, _)) <- got)
      assert((h, c) == plain(k), s"$k cell differs from burst_hours")
    // brute-force one type's top-1 z against its own-weekday moments
    val rows = graft.model.Tables.events(spark, sf)
      .select(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime))
    val hourMs = 3600L * 1000L
    val (hmin, hmax) = (rows.map(_._2).min, rows.map(_._2).max)
    val spine = (hmin to hmax by hourMs).toVector
    val counts = rows.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    def dowOf(ms: Long): Long = { // weekday(): 0 = Monday, in UTC
      val d = java.time.Instant.ofEpochMilli(ms).atZone(java.time.ZoneOffset.UTC)
      (d.getDayOfWeek.getValue - 1).toLong
    }
    val tpe = got.keySet.head._1
    val cells = spine.map(h => (h, dowOf(h), counts.getOrElse((tpe, h), 0L)))
    val (gh, gdow, gc, gz) = got((tpe, 1L))
    assert(dowOf(gh) == gdow, "emitted dow must be the burst hour's weekday")
    val same = cells.filter(_._2 == gdow)
    val n = same.size.toDouble
    val sc = same.map(_._3).sum.toDouble
    val scc = same.map(c => c._3.toDouble * c._3).sum
    val z = (gc - sc / n) / math.sqrt((scc - sc * sc / n) / (n - 1.0))
    assert(math.abs(gz - z) < 2e-6, s"$tpe seasonal z $gz vs brute $z")
  }

  test("mix_rebalance hits the target mix with the binding language kept whole") {
    val got = operators.PipelineOps.mixRebalance(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    val docs = graft.model.Tables.documents(spark, sf)
      .select(col("lang"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // the target mix, restated independently of the implementation constant
    val target = Map("en" -> 4, "de" -> 1, "es" -> 1, "fr" -> 1, "zh" -> 1)
    val denom = 8
    val chars = docs.groupBy(_._1).map { case (l, ds) => l -> ds.map(_._2).sum }
    val tmin = chars.map { case (l, c) => c * (denom / target(l)) }.min
    assert(got.keySet == chars.keySet)
    var keptTotal = 0.0
    for ((l, (nd, c, share, kept, rate)) <- got) {
      assert(c == chars(l), s"$l chars $c vs ${chars(l)}")
      assert(nd == docs.count(_._1 == l).toLong)
      val expKept = tmin.toDouble * target(l) / denom
      assert(math.abs(kept - expKept) < 2e-6, s"$l kept $kept vs $expKept")
      assert(math.abs(rate - expKept / c) < 2e-6, s"$l rate $rate")
      assert(rate <= 1.0 + 1e-9, s"$l rate > 1")
      assert(math.abs(share - target(l).toDouble / denom) < 1e-9)
      keptTotal += kept
    }
    // the binding language is kept whole; realized mix == target mix
    assert(got.values.exists { case (_, _, _, _, rate) => rate > 1.0 - 1e-9 },
      "no binding language at rate 1")
    for ((l, (_, _, _, kept, _)) <- got)
      assert(math.abs(kept / keptTotal - target(l).toDouble / denom) < 1e-6,
        s"$l realized share off target")
  }

  test("benford_mad: digit shares partition each column's mass; expectations sum to 1") {
    val rows = RelationalOps.benfordMad(spark, sf).collect()
    val byCol = rows.groupBy(_.getString(0))
    assert(byCol.keySet == Set("l_extendedprice", "o_totalprice"))
    for ((c, rs) <- byCol) {
      assert(rs.forall(r => (1 to 9).contains(r.getInt(1))), s"$c digit range")
      val obsSum = rs.map(_.getDouble(3)).sum
      assert(math.abs(obsSum - 1.0) < 1e-4, s"$c observed shares sum $obsSum")
      val expSum = rs.map(_.getDouble(4)).sum
      // Benford expectations over digits 1..9 are a telescoping sum = 1
      assert(math.abs(expSum - 1.0) < 1e-4, s"$c expected shares sum $expSum")
    }
  }

  test("survival_curve is a valid product-limit estimate") {
    val rows = AnalyticOps.survivalCurve(spark, sf).collect()
    assert(rows.nonEmpty)
    // at-risk counts strictly decrease; survival is non-increasing in [0,1]
    val ns = rows.map(_.getLong(1)); val surv = rows.map(_.getDouble(3))
    assert(ns.zip(ns.tail).forall { case (a, b) => b < a })
    assert(surv.forall(s => s >= 0.0 && s <= 1.0))
    assert(surv.zip(surv.tail).forall { case (a, b) => b <= a + 1e-12 })
    // terminal point: everyone at risk exits there, so S hits exactly 0
    assert(rows.last.getLong(1) == rows.last.getLong(2) && surv.last == 0.0)
    // n(t) telescopes: next at-risk = current at-risk - current events
    rows.zip(rows.tail).foreach { case (a, b) =>
      assert(b.getLong(1) == a.getLong(1) - a.getLong(2))
    }
  }

  test("theil_sen_trend pairs the full daily spine and stays near OLS on clean data") {
    val r = AnalyticOps.theilSenTrend(spark, sf).head()
    val n = r.getLong(0); val np = r.getLong(1)
    assert(np == n * (n - 1) / 2, "pair count is C(n_days, 2)")
    // synthetic traffic has no adversarial outlier days: the two slope
    // estimates agree loosely (robustness shows in the gap being small)
    assert(math.abs(r.getDouble(2) - r.getDouble(3)) <
      math.max(1.0, math.abs(r.getDouble(3))) * 2.0 + 50.0)
  }

  test("adamic_adar predicts only non-edges, scored by shared neighbors") {
    val pred = SimilarityOps.adamicAdar(spark, sf).collect()
    val edges = SimilarityOps.knnGraph(spark, sf)
      .select(least(col("vec_id"), col("nbr")), greatest(col("vec_id"), col("nbr")))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pred.nonEmpty)
    pred.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert(a < b, "canonical pair order")
      assert(!edges.contains((a, b)), s"($a,$b) is an existing edge")
      assert(r.getLong(2) >= 1 && r.getDouble(3) > 0.0)
    }
    // scores arrive ranked
    val scores = pred.map(_.getDouble(3))
    assert(scores.zip(scores.tail).forall { case (x, y) => y <= x + 1e-12 })
  }

  test("jw_pairs scores the same candidate set as edit_distance_pairs, in [0,1]") {
    val jw = TextOps.jwPairs(spark, sf).collect()
    val ed = TextOps.editDistancePairs(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(jw.map(r => (r.getLong(0), r.getLong(1))).toSet == ed)
    assert(jw.forall(r => r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0))
    // LSH candidates are near-dups: JW should sit high on most pairs
    assert(jw.count(_.getDouble(2) >= 0.7) * 2 >= jw.length)
  }

  test("soft_dedup keeps at most everything, and its decision is retry-stable") {
    val a = TextOps.softDedup(spark, sf).collect()
    val b = TextOps.softDedup(spark, sf).collect()
    assert(a.toSeq == b.toSeq, "deterministic across runs")
    a.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1))
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
  }

  test("seasonal_naive_error legs cover the exact joinable spine") {
    val r = AnalyticOps.seasonalNaiveError(spark, sf).head()
    val nDays = r.getLong(0)
    // contiguous synthetic calendar: lag-7 leg has n-7 terms, mase > 0
    assert(r.getLong(1) == nDays - 7)
    assert(r.getDouble(2) >= 0.0 && r.getDouble(3) > 0.0 && r.getDouble(4) > 0.0)
    assert(math.abs(r.getDouble(4) - r.getDouble(2) / r.getDouble(3)) < 1e-5)
  }

  test("dispersion_index moments reconcile with the event totals") {
    val rows = AnalyticOps.dispersionIndex(spark, sf).collect()
    val totals = graft.model.Tables.events(spark, sf)
      .groupBy(col("event_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.map(_.getString(0)).toSet == totals.keySet)
    rows.foreach { r =>
      val t = r.getString(0); val nh = r.getLong(1)
      // mean * n_hours recovers the type's event total (round-6 slack)
      assert(math.abs(r.getDouble(2) * nh - totals(t)) < nh * 1e-5, t)
      assert(r.getDouble(3) > 0.0, s"$t dispersion positive")
    }
    // all types share one complete spine
    assert(rows.map(_.getLong(1)).distinct.length == 1)
  }

  test("markov_entropy_rate equals the rate recomputed from raw transitions") {
    val r = AnalyticOps.markovEntropyRate(spark, sf).head()
    // re-derive transitions independently (same (ts, event_id) order)
    val evs = graft.model.Tables.events(spark, sf)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .collect().map(x => (x.getLong(0), x.getTimestamp(1), x.getLong(2), x.getString(3)))
    val trans = evs.groupBy(_._1).values.flatMap { es =>
      val s = es.sortBy(e => (e._2.getTime, e._2.getNanos, e._3)).map(_._4)
      s.zip(s.tail)
    }.toSeq
    val cuv = trans.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val cu = cuv.groupBy(_._1._1).map { case (u, m) => u -> m.values.sum }
    val n = cuv.values.sum
    def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val want = cuv.map { case ((u, _), c) =>
      r6(-(c.toDouble / n.toDouble) * math.log(c.toDouble / cu(u).toDouble))
    }.sum.toDouble
    assert(r.getLong(0) == n && r.getLong(1) == cuv.size)
    assert(math.abs(r.getDouble(2) - want) < 1e-9)
    assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= math.log(5.0) + 1e-9)
  }

  test("hapax_ratio bounds hold per source") {
    val rows = CorpusOps.hapaxRatio(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2) && r.getLong(2) <= r.getLong(1))
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
      assert(r.getDouble(5) > 0.0 && r.getDouble(5) <= 1.0)
    }
  }

  test("retrieval_ndcg's ideal DCG is the closed-form constant of the BM25 list") {
    val r = CorpusOps.retrievalNdcg(spark, sf).head()
    def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val k = CorpusOps.Bm25TopK
    val want = (1 to k).map(i =>
      r6((k + 1 - i).toDouble / (math.log(i + 1.0) / math.log(2.0)))).sum.toDouble
    assert(math.abs(r.getDouble(2) - want) < 1e-9, "idcg closed form")
    assert(r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0 + 1e-9)
    assert(r.getLong(0) >= 1, "the two rankers share at least one doc")
  }

  test("lang_source_mi reconciles with the per-cell PMI table") {
    val r = CorpusOps.langSourceMi(spark, sf).head()
    val cells = CorpusOps.langSourcePmi(spark, sf).collect()
    val total = cells.map(_.getLong(2)).sum
    // MI = sum of cell-mass-weighted PMIs (PMI column is round-6, so
    // the reconciliation carries rounding slack)
    val approx = cells.map(c => c.getLong(2).toDouble / total * c.getDouble(3)).sum
    assert(math.abs(r.getDouble(2) - approx) < 1e-3)
    assert(r.getDouble(3) >= -1e-9 && r.getDouble(3) <= 1.0 + 1e-9)
    assert(r.getLong(0) == total)
  }

  private def dailyCountsLocal(): Seq[(Long, Long)] =
    graft.model.Tables.events(spark, sf)
      .select(datediff(to_date(col("ts")), lit("1970-01-01").cast("date")).cast("long").as("d"))
      .groupBy("d").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq

  test("wasserstein_source_pairs matches a BigInt brute-force W1 on a sampled pair") {
    val rows = CorpusOps.wassersteinSourcePairs(spark, sf).collect()
    val srcs = graft.model.Tables.documents(spark, sf)
      .select("source").distinct().collect().map(_.getString(0)).sorted
    assert(rows.length == srcs.length * (srcs.length - 1) / 2)
    assert(rows.forall(_.getDouble(2) >= 0.0))
    // exact recompute for the lexicographically first pair
    val (sa, sb) = (srcs(0), srcs(1))
    val docs = graft.model.Tables.documents(spark, sf)
      .select("source", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val lens = docs.map(_._2).distinct.sorted
    def ecdfCounts(s: String) = {
      val by = docs.filter(_._1 == s).groupBy(_._2).map { case (l, xs) => l -> xs.length.toLong }
      lens.scanLeft(0L)((acc, l) => acc + by.getOrElse(l, 0L)).tail
    }
    val (ca, cb) = (ecdfCounts(sa), ecdfCounts(sb))
    val (na, nb) = (docs.count(_._1 == sa).toLong, docs.count(_._1 == sb).toLong)
    val tsum = lens.zip(lens.tail).zipWithIndex.map { case ((l0, l1), i) =>
      BigInt(l1 - l0) * (BigInt(ca(i)) * nb - BigInt(cb(i)) * na).abs
    }.sum
    val want = (BigDecimal(tsum) / (BigDecimal(na) * BigDecimal(nb)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = rows.find(r => r.getString(0) == sa && r.getString(1) == sb).get.getDouble(2)
    assert(math.abs(got - want) < 2e-6, s"w1($sa,$sb) = $got, want $want")
  }

  test("seasonal_decompose recovers the exact per-weekday means of the daily series") {
    val daily = dailyCountsLocal()
    val rows = AnalyticOps.seasonalDecompose(spark, sf).collect()
    assert(rows.map(_.getLong(1)).sum == daily.length)
    val byDow = daily.groupBy { case (d, _) => ((d + 3) % 7).toInt }
    rows.foreach { r =>
      val dow = r.getLong(0).toInt
      val cnts = byDow(dow).map(_._2)
      val mean = cnts.sum.toDouble / cnts.length
      assert(math.abs(r.getDouble(2) - mean) < 1e-5, s"dow $dow mean")
      val mar = cnts.map(c => math.abs(c * cnts.length - cnts.sum)).sum.toDouble /
        (cnts.length.toLong * cnts.length)
      assert(math.abs(r.getDouble(3) - mar) < 1e-5, s"dow $dow resid")
    }
  }

  test("binseg_split finds the argmax between-segment statistic") {
    val daily = dailyCountsLocal()
    val n = daily.length.toLong
    val s = daily.map(_._2).sum
    var sl = 0L
    val cand = daily.zipWithIndex.flatMap { case ((d, c), i) =>
      sl += c
      val k = i + 1L
      if (k >= 2 && k <= n - 2) {
        val diff = (sl * n - s * k).toDouble
        Some((d, k, diff * diff / (k.toDouble * (n - k).toDouble)))
      } else None
    }
    val best = cand.maxBy { case (d, _, st) => (st, -d) }
    val r = AnalyticOps.binsegSplit(spark, sf).head()
    assert(r.getLong(0) == best._1, "split day")
    assert(r.getLong(1) == best._2 && r.getLong(2) == n - best._2)
    assert(math.abs(r.getDouble(5) - best._3) < math.max(1e-6, best._3 * 1e-9))
  }

  test("prf_expansion proposes non-query terms present in the relevant docs") {
    val exp = CorpusOps.prfExpansion(spark, sf).collect()
    assert(exp.nonEmpty && exp.length <= 20)
    exp.foreach { r =>
      assert(r.getLong(1) >= 1, "every expansion term occurs in >= 1 relevant doc")
      assert(r.getDouble(2) > 0.0)
    }
    val scores = exp.map(_.getDouble(2))
    assert(scores.zip(scores.tail).forall { case (x, y) => y <= x + 1e-12 })
  }
}
