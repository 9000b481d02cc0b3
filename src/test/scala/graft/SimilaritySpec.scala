package graft

import graft.operators.{Multimodal, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("brute-force cosine matches a hand-computed result") {
    import spark.implicits._
    val df = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.9f, 0.1f)),
      (2L, Seq(0.0f, 1.0f)), (3L, Seq(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(df, df.filter($"vec_id" === 0),
        "vec_id", "embedding", k = 3)
      .orderBy("rank").collect().map(_.getLong(1))
    assert(out.toSeq == Seq(1L, 2L, 3L)) // by descending cosine to (1,0)
  }

  /** Clustered corpus shared by the LSH and IVF recall tests — the regime
    * ANN indexes serve. 8 well-separated centers, `perCluster` points each
    * with small noise.
    */
  private def clusteredCorpus(perCluster: Int = 50, dim: Int = 16) = {
    import spark.implicits._
    val rng = new scala.util.Random(13)
    val centers = Array.fill(8)(Array.fill(dim)(rng.nextGaussian() * 5))
    val rows = for {
      c <- centers.indices
      i <- 0 until perCluster
    } yield ((c * perCluster + i).toLong,
      centers(c).map(v => (v + rng.nextGaussian() * 0.2).toFloat).toSeq)
    rows.toDF("vec_id", "embedding").repartition(7)
  }

  test("LSH ANN recall >= 0.9 on clustered data at scale-safe bits") {
    import spark.implicits._
    // bits=10 → 1024 buckets/table: the parameterization that survives a
    // 100× corpus (candidates ~ n²·tables/2^bits). On unclustered noise no
    // LSH parameterization has signal, so recall is asserted in the regime
    // the index exists for.
    val corpus = clusteredCorpus()
    val queries = corpus.filter($"vec_id" % 50 < 2)
    val exact = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(corpus, queries, "vec_id", "embedding",
        k = 5, bits = 10, tables = 8, dim = 16)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"LSH recall $recall < 0.9 (|exact|=${exact.size})")
  }

  test("PQ ANN: same-cluster recall on clustered data; partition-invariant") {
    import spark.implicits._
    val corpus = clusteredCorpus(perCluster = 50, dim = 16)
    val queries = corpus.filter($"vec_id" % 50 < 2)
    // Two seeds per planted cluster → every cluster owns codebook mass.
    val seeds = (0 until 8).flatMap(c => Seq(c * 50L, c * 50L + 1))
    def run(c: org.apache.spark.sql.DataFrame) =
      Similarity.pqTopK(c, queries, "vec_id", "embedding",
          k = 5, m = 4, seedIds = seeds, trainUpdates = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    val rows = run(corpus)
    assert(rows.length == 16 * 5, s"expected 16 queries x 5, got ${rows.length}")
    // ADC distortion must not break cluster structure: neighbors come
    // from the query's own planted cluster.
    val sameCluster = rows.count { case (q, n, _, _) => q / 50 == n / 50 }
    assert(sameCluster.toDouble / rows.length >= 0.9,
      s"PQ same-cluster recall ${sameCluster.toDouble / rows.length} < 0.9")
    // Decimal ADC sums + rounded assignment keys ⇒ identical output at
    // any partitioning.
    val rows2 = run(corpus.repartition(3))
    assert(rows.sortBy(t => (t._1, t._3)).toSeq == rows2.sortBy(t => (t._1, t._3)).toSeq,
      "PQ result varies with partitioning")
  }

  test("IVF-PQ with exact re-rank: recall >= 0.9 on clustered data") {
    import spark.implicits._
    val corpus = clusteredCorpus(perCluster = 100, dim = 16)
    val queries = corpus.filter($"vec_id" % 100 < 2)
    val seeds = (0 until 8).flatMap(c => Seq(c * 100L, c * 100L + 1))
    val exact = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // shortlist > cluster size: coarse codebooks make same-cluster
    // candidates TIE in ADC (identical codes), so a shortlist smaller
    // than the tie class truncates arbitrarily by id — the parameter
    // guidance the operator doc states (shortlist >> k, above the
    // expected ADC tie mass).
    val approx = Similarity.ivfPqTopK(corpus, queries, "vec_id", "embedding",
        k = 5, nCentroids = 16, nProbe = 8, m = 4, seedIds = seeds, shortlist = 120)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"IVF-PQ recall $recall < 0.9 (|exact|=${exact.size})")
  }

  test("LSH signature kernel is bit-identical to the per-plane formulation") {
    import graft.operators.OpCaches
    // Real embeddings plus a wrong-dimension vector (both formulations
    // must bucket it as 0 in every table). NULL vectors deliberately
    // diverge (kernel drops them; the HOF manufactured a null mega-bucket)
    // so they are excluded here and documented on lshBuckets.
    import spark.implicits._
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).limit(100)
      .unionByName(Seq((90001L, Seq(1.0f, 2.0f))).toDF("vec_id", "embedding"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "tbl", "bucket")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val fast = rows(Similarity.lshBuckets(emb, "vec_id", "embedding",
      bits = 10, tables = 8))
    OpCaches.releaseAll(spark)
    val hof = rows(Similarity.lshBucketsHof(emb, "vec_id", "embedding",
      bits = 10, tables = 8, dim = 64))
    assert(fast == hof, {
      val d1 = (fast -- hof).take(3); val d2 = (hof -- fast).take(3)
      s"kernel/HOF divergence: kernel-only=$d1 hof-only=$d2"
    })
    assert(fast.exists { case (id, _, b) => id == 90001L && b == 0L },
      "wrong-dimension vector must land in bucket 0")
  }

  test("LSH on the unclustered table still returns deterministic candidates") {
    val emb = Tables.load(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    val out = Similarity.lshTopK(emb, queries, "vec_id", "embedding",
        k = 5, bits = 10, tables = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val again = Similarity.lshTopK(emb, queries, "vec_id", "embedding",
        k = 5, bits = 10, tables = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(out == again)
  }

  test("IVF ANN: high recall on clustered data, touching only probed lists") {
    import spark.implicits._
    // 8×100 = 800 rows > the 16·32-row quantizer sample: ids are assigned
    // per cluster, so a PREFIX sample would only see clusters 0–5 and
    // recall would collapse — this pins the hash-spread sampling.
    val corpus = clusteredCorpus(perCluster = 100)
    val queries = corpus.filter($"vec_id" % 100 < 2) // 2 per cluster
    val exact = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(corpus, queries, "vec_id", "embedding",
        k = 5, nCentroids = 16, nProbe = 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.9, s"IVF recall $recall < 0.9")
  }

  test("distributed k-means: recovers planted clusters, deterministic, empty-cluster-safe") {
    import spark.implicits._
    val corpus = clusteredCorpus(perCluster = 30)
    // One seed inside each of four different planted clusters.
    val seeds = Seq(0L, 30L, 60L, 90L)
    val out = Similarity.kmeansAssignments(corpus, "vec_id", "embedding",
      seeds, iters = 3).collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out.size == 240)
    // Every member of a seeded planted cluster lands with its seed.
    seeds.zipWithIndex.foreach { case (s, c) =>
      (s until s + 30).foreach { id =>
        assert(out(id) == c, s"vec $id: cluster ${out(id)} != seed cluster $c")
      }
    }
    // Deterministic across partitionings (the cross-engine contract).
    val again = Similarity.kmeansAssignments(corpus.repartition(3),
      "vec_id", "embedding", seeds, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(again == out)
    // A seed that attracts nothing (its whole planted cluster sits closer
    // to another seed is impossible here, so force it: duplicate seed
    // vector) must keep its centroid rather than divide by zero — seeds
    // 0 and a clone of it compete; the loser's cluster may be empty and
    // the fit must still complete with every row assigned.
    val withClone = corpus.union(Seq((9999L,
      corpus.filter($"vec_id" === 0L).head().getSeq[Float](1)))
      .toDF("vec_id", "embedding"))
    val cloned = Similarity.kmeansAssignments(withClone, "vec_id", "embedding",
      Seq(0L, 9999L, 30L, 60L), iters = 3).collect()
    assert(cloned.length == 241)
  }

  test("cosine near-dup detector finds a planted duplicate pair") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    def vec() = Seq.fill(64)(rng.nextGaussian().toFloat)
    val v = vec()
    val nearDup = v.updated(0, v.head + 0.01f)
    val rows = Seq((1000L, v), (1001L, nearDup)) ++
      (1L to 200L).map(i => i -> vec())
    val df = rows.toDF("vec_id", "embedding").repartition(5)
    val pairs = Similarity.cosineNearDups(df, "vec_id", "embedding",
        threshold = 0.99, bits = 8, tables = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1000L, 1001L)), s"missed planted dup: $pairs")
  }

  test("quantizedTopK: near-exact recall, deterministic, self-excluded") {
    import spark.implicits._
    val corpus = clusteredCorpus()
    val queries = corpus.filter($"vec_id" % 50 < 2)
    val exact = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding",
        k = 5, rankRounded = true)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = Similarity.quantizedTopK(corpus, queries, "vec_id", "embedding",
        k = 5, shortlist = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // int8 at shortlist 50 on 400 rows: the exact top-5 should survive
    // essentially intact (quantization error ~scale/2 per element).
    val recall = (exact & quant.map(t => (t._1, t._2))).size.toDouble / exact.size
    assert(recall >= 0.95, s"quantized recall $recall < 0.95")
    // No self-pairs; exactly k per query; deterministic rerun.
    assert(quant.forall(t => t._1 != t._2))
    assert(quant.groupBy(_._1).forall(_._2.size == 5))
    val again = Similarity.quantizedTopK(corpus, queries, "vec_id", "embedding",
        k = 5, shortlist = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(quant == again)
  }

  test("quantizedTopK: zero vector cannot be a query or neighbor") {
    import spark.implicits._
    val rows = Seq((0L, Seq(0.0f, 0.0f, 0.0f, 0.0f))) ++
      (1L to 20L).map { i =>
        i -> Seq(i.toFloat, (i % 3).toFloat, 1.0f, (i % 7).toFloat)
      }
    val df = rows.toDF("vec_id", "embedding").repartition(3)
    val out = Similarity.quantizedTopK(df, df.filter($"vec_id" <= 1),
        "vec_id", "embedding", k = 3, shortlist = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // Cosine is undefined against the zero vector: id 0 yields no
    // results as a query and never appears as a neighbor.
    assert(out.nonEmpty && out.forall(p => p._1 == 1L && p._2 != 0L), out.toSeq)
  }

  test("semDedup: planted in-cluster duplicates drop to the min-id keeper") {
    import spark.implicits._
    // Clustered corpus (the regime SemDeDup serves) with planted exact
    // duplicates inside one cluster: the duplicates co-assign by
    // construction (identical vectors share a nearest centroid), so the
    // keeper rule must fire regardless of which centroid that is.
    val corpus = clusteredCorpus()
    val dup = corpus.filter($"vec_id" === 7L).collect()
      .head.getSeq[Float](1)
    val planted = Seq((9001L, dup), (9002L, dup)).toDF("vec_id", "embedding")
    val out = Similarity.semDedup(corpus.unionByName(planted),
        "vec_id", "embedding", threshold = 0.99999, nCentroids = 8)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getBoolean(2))).toMap
    // One row per input, exact duplicates co-clustered with the original.
    assert(out.size == 8 * 50 + 2)
    assert(out(9001L)._1 == out(7L)._1 && out(9002L)._1 == out(7L)._1,
      s"identical vectors split across clusters: ${out(7L)} ${out(9001L)} ${out(9002L)}")
    // Min-id keeper election: 7 keeps, both planted copies drop.
    assert(out(7L)._2, "keeper was dropped")
    assert(!out(9001L)._2 && !out(9002L)._2, s"planted dups kept: $out")
    // At threshold 0.99999 the noisy cluster-mates (pairwise cosine
    // ~0.9984 at noise 0.2 on norm-20 centers) stay far below the cut.
    val dropped = out.count(!_._2._2)
    assert(dropped == 2, s"expected exactly the 2 planted dups dropped, got $dropped")
  }

  test("semDedup: deterministic across partitionings, singletons kept") {
    val corpus = clusteredCorpus()
    def run(parts: Int) = Similarity.semDedup(corpus.repartition(parts),
        "vec_id", "embedding", threshold = 0.99999, nCentroids = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2))).toSet
    // Seeded centroids + rounded-cosine cut: the full (id, cluster, kept)
    // relation is partition-count invariant.
    assert(run(3) == run(11))
    // No near-dups planted → everything is its own keeper.
    assert(run(3).forall(_._3), "spurious drop without planted duplicates")
  }

  test("multimodal: media table schema + partition-batched decode shape") {
    val docs = Tables.load(spark, dir, "documents").limit(50)
    val media = Multimodal.asMediaTable(docs, "doc_id", "text")
    assert(media.schema("payload").dataType.typeName == "binary")
    val metaFields = media.schema("meta").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fields.map(f => (f.name, f.dataType)).toSeq
    assert(metaFields == Multimodal.metadataType.fields.map(f => (f.name, f.dataType)).toSeq)
    val feats = Multimodal.extractFeatures(media, "doc_id", dim = 8)
    val rows = feats.collect()
    assert(rows.length == 50)
    assert(rows.forall(_.getSeq[Float](1).length == 8))
    // determinism: same payload → same features
    val again = Multimodal.extractFeatures(media, "doc_id", dim = 8).collect()
    assert(rows.map(_.getSeq[Float](1)).zip(again.sortBy(_.getLong(0)).map(_.getSeq[Float](1)))
      .forall { case (a, b) => a == b } || rows.sortBy(_.getLong(0)).map(_.getSeq[Float](1)).toSeq ==
      again.sortBy(_.getLong(0)).map(_.getSeq[Float](1)).toSeq)
    // frame sampling: 4 frames per doc, deterministic checksums
    val frames = Multimodal.sampleFrames(media, "doc_id", frames = 4)
    assert(frames.count() == 200)
    assert(frames.groupBy("doc_id").count().select(max("count")).head().getLong(0) == 4)
    // resize: payload shrinks to the pixel budget, meta reflects the new
    // dims, output is a media table again (composes with extractFeatures)
    val small = Multimodal.resize(media, "doc_id", width = 64, height = 64)
    val srows = small.collect()
    assert(srows.forall(_.getAs[Array[Byte]]("payload").length <= 64 * 64 / 64))
    assert(srows.forall { r =>
      val m = r.getStruct(2)
      m.getInt(3) == 64 && m.getInt(4) == 64 &&
        m.getLong(1) == r.getAs[Array[Byte]]("payload").length.toLong
    })
    val resizedAgain = Multimodal.resize(media, "doc_id", width = 64, height = 64)
      .select("doc_id", "meta.checksum").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val resizedFirst = srows.map(r => r.getLong(0) -> r.getStruct(2).getLong(2)).toMap
    assert(resizedFirst == resizedAgain, "resize must be deterministic")
    assert(Multimodal.extractFeatures(small, "doc_id", dim = 4).count() == 50)
  }

  test("multimodal: real PNG codec — lossless round-trip, NN resize, bad-row tolerance") {
    import spark.implicits._
    // Known rasters: 3x2 gradient, 1x1, a size-MISMATCHED row (raster
    // shorter than w*h), and a NULL raster.
    val px32 = Seq(0xff0000, 0x00ff00, 0x0000ff, 0x102030, 0xfefdfc, 0x000000)
    val src = Seq(
      (1L, 3, 2, px32), (2L, 1, 1, Seq(0xabcdef)),
      (3L, 3, 2, Seq(1, 2)), (4L, 3, 2, null.asInstanceOf[Seq[Int]]))
      .toDF("doc_id", "w", "h", "pixels")
    val png = Multimodal.encodePng(src, "doc_id", "w", "h", "pixels")
    val byId = png.collect().map(r => r.getLong(0) -> r).toMap
    // Real PNG bytes: magic header on good rows, NULL payload on bad.
    val goodPayload = byId(1L).getAs[Array[Byte]]("payload")
    assert(goodPayload.take(4).toSeq ==
      Seq(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte))
    assert(byId(3L).getAs[Array[Byte]]("payload") == null &&
      byId(4L).getAs[Array[Byte]]("payload") == null,
      "bad rasters must yield NULL payloads, not fail the stage")
    assert(byId(1L).getStruct(2).getString(0) == "image/png")
    // Lossless round-trip: decode returns the exact input raster.
    val dec = Multimodal.decodeImage(png, "doc_id").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(dec(1L).getInt(1) == 3 && dec(1L).getInt(2) == 2)
    assert(dec(1L).getSeq[Int](3) == px32, "PNG round-trip must be bit-exact")
    assert(dec(2L).getSeq[Int](3) == Seq(0xabcdef))
    assert(dec(3L).isNullAt(3) && dec(4L).isNullAt(3),
      "NULL payloads must decode to NULL rasters")
    // NN resize 3x2 -> 2x1: target (tx,0) <- source (tx*3/2, 0*2/1) =
    // (0,0) and (1,0) -> pixels 0 and 1.
    val small = Multimodal.resizeImage(png, "doc_id", tw = 2, th = 1)
    val sdec = Multimodal.decodeImage(small, "doc_id").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(sdec(1L).getInt(1) == 2 && sdec(1L).getInt(2) == 1)
    assert(sdec(1L).getSeq[Int](3) == Seq(0xff0000, 0x00ff00),
      "nearest-neighbor must pick source (tx*w/tw, ty*h/th) exactly")
    assert(sdec(3L).isNullAt(3), "NULL payloads ride through resize as NULL")
  }

  test("real WAV codec: lossless round-trip on edge samples, bad rows, feature routing") {
    import spark.implicits._
    // Edge values: both 16-bit extremes, zero, ±1. Row 2 is out of
    // 16-bit range, row 3 NULL — both must yield NULL payloads.
    val edge = Seq(-32768, 32767, 0, 1, -1, 12345, -12345)
    val src = Seq(
      (1L, edge), (2L, Seq(40000)), (3L, null.asInstanceOf[Seq[Int]]))
      .toDF("doc_id", "samples")
    val wav = Multimodal.encodeWav(src, "doc_id", "samples", sampleRate = 8000)
    val byId = wav.collect().map(r => r.getLong(0) -> r).toMap
    val good = byId(1L).getAs[Array[Byte]]("payload")
    assert(good != null && new String(good, 0, 4, "US-ASCII") == "RIFF" &&
      new String(good, 8, 4, "US-ASCII") == "WAVE", "real RIFF/WAVE container")
    assert(byId(2L).getAs[Array[Byte]]("payload") == null &&
      byId(3L).getAs[Array[Byte]]("payload") == null,
      "out-of-range / NULL samples must yield NULL payloads, not fail the stage")
    assert(byId(1L).getStruct(2).getString(0) == "audio/wav" &&
      byId(1L).getStruct(2).getInt(3) == 8000 &&
      byId(1L).getStruct(2).getInt(4) == edge.length)
    // Lossless decode: the exact input samples come back, including both
    // signed-16 extremes (a sign or byte-order bug flips these first).
    val dec = Multimodal.decodeWav(wav, "doc_id").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(dec(1L).getInt(1) == 8000 && dec(1L).getInt(2) == 1)
    assert(dec(1L).getSeq[Int](3) == edge, "WAV round-trip must be bit-exact")
    assert(dec(2L).isNullAt(3) && dec(3L).isNullAt(3))
    // A non-WAV payload must NOT be routed to the audio decoder.
    val fake = Seq((9L, Array[Byte]('R', 'I', 'F', 'F', 1, 2, 3, 4, 'A', 'V', 'I', ' ')))
      .toDF("doc_id", "payload")
    assert(Multimodal.decodeWav(fake, "doc_id").collect().head.isNullAt(3),
      "RIFF-but-not-WAVE (AVI) payloads must yield NULL, not decode")
    // extractFeatures must fold over the DECODED PCM bytes, not the
    // container: replay the FNV fold over the little-endian sample bytes
    // and compare the fixed-point projection.
    val feats = Multimodal.extractFeatures(wav, "doc_id", dim = 4).collect()
      .map(r => r.getLong(0) -> r).toMap
    val pcm = edge.flatMap(s => Seq((s & 0xff).toByte, ((s >> 8) & 0xff).toByte))
    val expected = {
      val out = new Array[Float](4)
      var h = 0xcbf29ce484222325L
      for ((b, i) <- pcm.zipWithIndex) {
        h = (h ^ (b & 0xffL)) * 0x100000001b3L
        out(i % 4) += ((h >>> 40) & 0xff) / 255.0f
      }
      out
    }
    val gotF = feats(1L).getSeq[Float](1)
    assert(gotF.zip(expected).forall { case (a, b) =>
      math.floor(a * 10000 + 0.5) == math.floor(b * 10000 + 0.5) },
      s"features must fold over decoded PCM: $gotF vs ${expected.toSeq}")
    assert(feats(2L).isNullAt(1), "NULL payloads yield NULL features")
  }

  test("video container: pack/sample round-trip, stride, bad rows, truncation") {
    import spark.implicits._
    // Three 1x1 PNG frames with distinct colors; stride 2 keeps 0 and 2.
    val rasters = Seq(
      (10L, 1, 1, Seq(0xff0000)), (11L, 1, 1, Seq(0x00ff00)),
      (12L, 1, 1, Seq(0x0000ff)))
      .toDF("fid", "w", "h", "pixels")
    val pngs = Multimodal.encodePng(rasters, "fid", "w", "h", "pixels")
      .collect().sortBy(_.getLong(0)).map(_.getAs[Array[Byte]]("payload"))
    val src = Seq(
      (1L, pngs.toSeq),                                // good: 3 frames
      (2L, Seq.empty[Array[Byte]]),                    // empty list
      (3L, null.asInstanceOf[Seq[Array[Byte]]]),       // NULL list
      (4L, Seq(pngs(0), null)))                        // NULL frame inside
      .toDF("doc_id", "frames")
    val packed = Multimodal.packFrames(src, "doc_id", "frames")
    val byId = packed.collect().map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).getAs[Array[Byte]]("payload") != null &&
      byId(1L).getStruct(2).getInt(3) == 3, "3-frame container packs")
    assert(Seq(2L, 3L, 4L).forall(byId(_).getAs[Array[Byte]]("payload") == null),
      "empty / NULL / NULL-frame lists must yield NULL payloads")
    // Stride 2 over 3 frames -> frames 0 and 2, decoded to exact pixels.
    val dec = Multimodal.sampleDecodedFrames(packed, "doc_id", every = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r).toMap
    assert(dec.keySet == Set((1L, 0), (1L, 2)), s"sampled ${dec.keySet}")
    assert(dec((1L, 0)).getSeq[Int](4) == Seq(0xff0000) &&
      dec((1L, 2)).getSeq[Int](4) == Seq(0x0000ff),
      "kept frames decode to their exact rasters (order preserved)")
    // Truncated container: drop the last 5 bytes -> no rows, no failure.
    val good = byId(1L).getAs[Array[Byte]]("payload")
    val trunc = Seq((9L, good.dropRight(5)))
      .toDF("doc_id", "payload")
    assert(Multimodal.sampleDecodedFrames(trunc, "doc_id", every = 1).count() == 2,
      "a truncated container keeps the frames before the break, does not fail")
    // Non-container payload: skipped entirely.
    val junk = Seq((8L, Array[Byte](1, 2, 3))).toDF("doc_id", "payload")
    assert(Multimodal.sampleDecodedFrames(junk, "doc_id", every = 1).count() == 0)
    // Corrupt LENGTH WORD (negative / absurdly large): must degrade like
    // truncation — keep frames before the break, never throw
    // NegativeArraySizeException or attempt a matching allocation.
    def withLenWord(value: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(good.length)
      b.put(good, 0, good.length)
      // frame 0's length word sits right after magic+count (bytes 8-11)
      b.putInt(8, value)
      b.array()
    }
    for (bad <- Seq(-5, Int.MaxValue - 16)) {
      val df = Seq((7L, withLenWord(bad))).toDF("doc_id", "payload")
      assert(Multimodal.sampleDecodedFrames(df, "doc_id", every = 1).count() == 0,
        s"length word $bad must stop the parse cleanly")
    }
  }

  test("multimodal: frame windows are byte-exact on non-UTF-8 binary payloads") {
    import spark.implicits._
    // Payloads that are NOT valid UTF-8 (JPEG-like magic + high bytes):
    // a string round-trip would mangle them into replacement chars.
    def payload(seed: Int, n: Int): Array[Byte] = {
      val rnd = new scala.util.Random(seed)
      val b = new Array[Byte](n)
      rnd.nextBytes(b)
      b(0) = 0xFF.toByte; b(1) = 0xD8.toByte; b(2) = 0xFF.toByte // JPEG SOI
      b
    }
    val rows = Seq((1L, payload(1, 40)), (2L, payload(2, 41)), (3L, payload(3, 7)))
    val media = rows.toDF("doc_id", "payload")
      .select(col("doc_id"), col("payload"),
        struct(lit("img/jpeg").as("format"),
          octet_length(col("payload")).cast("long").as("n_bytes"),
          crc32(col("payload")).as("checksum"),
          lit(8).as("width"), lit(8).as("height")).as("meta"))
    val got = Multimodal.sampleFrames(media, "doc_id", frames = 4).collect()
      .map(r => (r.getLong(0), r.getInt(2)) -> r.getString(3)).toMap
    for ((id, bytes) <- rows; f <- 0 until 4) {
      val w = math.max(bytes.length / 4, 1)
      val slice = bytes.slice(f * w, math.min(f * w + w, bytes.length))
      val md = java.security.MessageDigest.getInstance("MD5").digest(slice)
        .map(b => f"$b%02x").mkString.take(16)
      assert(got((id, f)) == md,
        s"frame ($id,$f): engine ${got((id, f))} != jvm $md")
    }
  }

  test("int8 quantization: full-range codes, error bound, zero vector safe") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1.0f, -2.0f, 0.5f)),
      (2L, Seq(0.0f, 0.0f, 0.0f)),
      (3L, Seq(-127.0f, 127.0f))).toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8(df, "embedding").collect()
      .map(r => r.getLong(0) ->
        ((r.getDouble(2), r.getSeq[Int](3), r.getDouble(4)))).toMap
    val (s1, q1, e1) = out(1L)
    assert(s1 == 2.0 / 127)
    // 1.0/scale = 63.5 → round-half-up 64; -2.0 → -127; 0.5 → 32.
    assert(q1 == Seq(64, -127, 32))
    assert(e1 <= s1 / 2 + 1e-15, s"err $e1 exceeds scale/2 ${s1 / 2}")
    val (_, q2, e2) = out(2L)
    assert(q2 == Seq(0, 0, 0) && e2 == 0.0)
    val (s3, q3, e3) = out(3L)
    assert(s3 == 1.0 && q3 == Seq(-127, 127) && e3 == 0.0)
    out.values.foreach { case (_, q, _) =>
      assert(q.forall(c => c >= -127 && c <= 127)) }
  }
}
