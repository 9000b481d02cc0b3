package graft

import org.scalatest.funsuite.AnyFunSuite

/** Negative-path behavior: bad queries fail cleanly and ANSI arithmetic
  * overflow raises instead of wrapping. The reference ships the same class
  * of tests (mapd-core/Tests/ExecuteTest.cpp Joins_Unsupported /
  * UnsupportedNodes / overflow groups); Spark 4 runs ANSI mode by default,
  * so overflow must surface as a SparkArithmeticException, silently-wrong
  * results being the one unacceptable outcome.
  */
class NegativeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("ANSI overflow on scalar arithmetic raises, not wraps") {
    val e = intercept[ArithmeticException] {
      spark.sql("SELECT CAST(9223372036854775807 AS BIGINT) + CAST(1 AS BIGINT) AS x")
        .collect()
    }
    assert(Option(e.getMessage).exists(_.toLowerCase.contains("overflow")))
  }

  test("ANSI overflow inside an aggregate over data raises, not wraps") {
    import spark.implicits._
    val df = Seq(Long.MaxValue, 1L).toDF("v")
    val outcome =
      try Left(df.agg(org.apache.spark.sql.functions.sum("v")).head().get(0))
      catch { case e: Exception => Right(e) }
    assert(outcome.isRight,
      s"sum overflow silently wrapped to ${outcome.left.getOrElse("?")}")
  }

  test("ANSI numeric cast overflow raises, not truncates") {
    intercept[Exception] {
      spark.sql("SELECT CAST(3000000000 AS INT) AS x").collect()
    }
  }

  test("CSV import: PERMISSIVE nulls malformed fields, FAILFAST raises") {
    // The reference's importer counts reject rows up to max_reject
    // (mapd-core/Import/Importer.cpp); Spark's equivalent contract is
    // mode=PERMISSIVE (null the bad field) vs FAILFAST (raise).
    TempDirs.withTempDir("graft_badcsv") { dir =>
      java.nio.file.Files.writeString(dir.resolve("part.csv"),
        "id,qty\n1,10\n2,notanumber\n3,30\n")
      val schema = org.apache.spark.sql.types.StructType.fromDDL("id INT, qty INT")
      val permissive = spark.read.option("header", "true").schema(schema)
        .option("mode", "PERMISSIVE").csv(dir.toString).collect()
      assert(permissive.length == 3)
      assert(permissive.count(_.isNullAt(1)) == 1, "bad field must read as null")
      intercept[Exception] {
        spark.read.option("header", "true").schema(schema)
          .option("mode", "FAILFAST").csv(dir.toString).collect()
      }
    }
  }

  test("SQL text-hash functions reject non-literal shape parameters") {
    graft.functions.GraftExtensions.register(spark)
    Tables.registerAll(spark, "/root/testdata/sf0.001")
    // k/numHashes parameterize kernel codegen — a per-row column there is
    // meaningless and must fail at binding, not return garbage.
    val e1 = intercept[Exception] {
      spark.sql("SELECT shingle_hashes(r_name, r_regionkey) FROM region").collect()
    }
    assert(e1.getMessage.contains("integer literal"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql("SELECT minhash_sig(shingle_hashes(r_name, 3), r_regionkey) FROM region").collect()
    }
    assert(e2.getMessage.contains("integer literal"), e2.getMessage)
  }

  test("unresolved column fails analysis with a clean error") {
    Tables.registerAll(spark, "/root/testdata/sf0.001")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT no_such_column FROM region").collect()
    }
    assert(e.getMessage.contains("no_such_column"))
  }

  test("unresolvable table fails analysis with a clean error") {
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM graft_definitely_missing_table").collect()
    }
  }

  test("bloom functions validate their arguments cleanly") {
    graft.functions.GraftExtensions.register(spark)
    Tables.registerAll(spark, "/root/testdata/sf0.001")
    // fpp outside (0,1) fails at construction, not mid-job.
    val e1 = intercept[Exception] {
      spark.sql("SELECT bloom_agg(r_regionkey, 100, 1.5) FROM region").collect()
    }
    assert(e1.getMessage.contains("fpp"), e1.getMessage)
    // Non-literal expectedItems is rejected (the sketch must be sized
    // before data flows).
    val e2 = intercept[Exception] {
      spark.sql("SELECT bloom_agg(r_regionkey, r_regionkey) FROM region").collect()
    }
    assert(e2.getMessage.contains("integer literal"), e2.getMessage)
    // Probe over a non-integral key type fails type check.
    val e3 = intercept[Exception] {
      spark.sql("SELECT bloom_might_contain(CAST(NULL AS BINARY), CAST(1.5 AS DOUBLE))").collect()
    }
    assert(e3.getMessage.toLowerCase.contains("bloom_might_contain"), e3.getMessage)
  }

  test("r14 operators validate their arguments cleanly") {
    import spark.implicits._
    val media = Seq((1L, Array[Byte](1, 2, 3))).toDF("id", "payload")
    val samples = Seq((1L, Seq(1, 2, 3))).toDF("id", "samples")
    // encodeWav: non-positive sample rate is a construction error, not a
    // per-row data problem.
    val e1 = intercept[IllegalArgumentException] {
      graft.operators.Multimodal.encodeWav(samples, "id", "samples", sampleRate = 0)
    }
    assert(e1.getMessage.contains("sample rate"), e1.getMessage)
    // sampleDecodedFrames: a zero stride would loop forever.
    val e2 = intercept[IllegalArgumentException] {
      graft.operators.Multimodal.sampleDecodedFrames(media, "id", every = 0)
    }
    assert(e2.getMessage.contains("stride"), e2.getMessage)
    // shortestPaths: empty sources / negative hop cap are contract errors.
    val edges = Seq((1L, 2L, 1L)).toDF("src", "dst", "w")
    val e3 = intercept[IllegalArgumentException] {
      graft.operators.Components.shortestPaths(edges, "src", "dst", "w", Nil, 5)
    }
    assert(e3.getMessage.contains("source"), e3.getMessage)
    val e4 = intercept[IllegalArgumentException] {
      graft.operators.Components.shortestPaths(edges, "src", "dst", "w", Seq(1L), -1)
    }
    assert(e4.getMessage.contains("maxHops"), e4.getMessage)
  }

  test("r15/r16 operators validate their arguments cleanly") {
    import spark.implicits._
    val edges = Seq((1L, 2L)).toDF("u", "v")
    // landmarkDistances: zero landmarks / negative hop cap are contract
    // errors (same convention the r14 operators spec'd).
    val e1 = intercept[IllegalArgumentException] {
      graft.operators.Components.landmarkDistances(edges, "u", "v", nLandmarks = 0, maxHops = 5)
    }
    assert(e1.getMessage.contains("nLandmarks"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      graft.operators.Components.landmarkDistances(edges, "u", "v", nLandmarks = 8, maxHops = -1)
    }
    assert(e2.getMessage.contains("maxHops"), e2.getMessage)
    // Spatial: a non-positive grid cell would divide by zero / loop the
    // cell explode.
    val pts = Seq((1L, 10L, 10L)).toDF("event_id", "px", "py")
    val poly = Seq((1, 1, 0, 0, 10, 0)).toDF("pid", "i", "x1", "y1", "x2", "y2")
    val e3 = intercept[IllegalArgumentException] {
      graft.operators.Spatial.pointInPolygonCounts(pts, poly, cellSize = 0)
    }
    assert(e3.getMessage.contains("cellSize"), e3.getMessage)
    // Generic media resize: non-positive target dims are a construction
    // error, not a per-row data problem.
    val media = Seq((1L, Array[Byte](1, 2, 3))).toDF("id", "payload")
    val e4 = intercept[IllegalArgumentException] {
      graft.operators.Multimodal.resize(media, "id", width = 0, height = 4)
    }
    assert(e4.getMessage.contains("positive"), e4.getMessage)
  }

  test("encodeJpeg validates quality; size-mismatched raster NULLs through") {
    import spark.implicits._
    val raster = Seq((1L, 4, 4, Seq.fill(16)(0x336699)))
      .toDF("id", "w", "h", "pixels")
    val e = intercept[IllegalArgumentException] {
      graft.operators.Multimodal.encodeJpeg(raster, "id", "w", "h", "pixels", 0f)
    }
    assert(e.getMessage.contains("quality"), e.getMessage)
    // A raster whose pixel count does not match w*h is a data problem:
    // NULL payload with metadata kept, not a stage failure.
    val bad = Seq((1L, 4, 4, Seq.fill(9)(0x336699))).toDF("id", "w", "h", "pixels")
    val out = graft.operators.Multimodal.encodeJpeg(bad, "id", "w", "h", "pixels")
      .select("payload", "meta.format").collect()
    assert(out.length == 1 && out(0).get(0) == null &&
      out(0).getString(1) == "image/jpeg")
    // And a valid raster produces a payload the JPEG reader accepts.
    val ok = graft.operators.Multimodal.encodeJpeg(raster, "id", "w", "h", "pixels")
      .select("payload").head().getAs[Array[Byte]](0)
    assert(ok != null && ok.length > 2 &&
      (ok(0) & 0xff) == 0xff && (ok(1) & 0xff) == 0xd8, "not a JPEG (SOI missing)")
  }

  test("resize NULLs through corrupt-PNG and WAV payloads instead of failing the stage") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // One payload per failure class: PNG magic + garbage (the reader
    // CLAIMS it, then throws — ImageIO.read never returns null here),
    // and a sniffable WAV header (image-semantic resize must not
    // stride-sample PCM bytes). Both must ride through as NULL payload
    // with metadata kept; the stage must not fail.
    val pngMagic = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)
    val corruptPng = pngMagic ++ Array.fill[Byte](16)(0x42)
    val wavHeader = "RIFF0000WAVE0000".getBytes("US-ASCII")
    val media = Seq((1L, corruptPng), (2L, wavHeader)).toDF("id", "payload")
      .select(col("id"), col("payload"),
        struct(lit("test/raw").as("format"),
          octet_length(col("payload")).cast("long").as("n_bytes"),
          crc32(col("payload")).as("checksum"),
          lit(4).as("width"), lit(4).as("height")).as("meta"))
    val out = graft.operators.Multimodal.resize(media, "id", width = 2, height = 2)
      .select("id", "payload", "meta.format").collect().sortBy(_.getLong(0))
    assert(out.length == 2)
    assert(out.forall(_.get(1) == null), "both payloads must NULL through")
    assert(out.forall(_.getString(2) == "test/raw"), "metadata must be kept")
    // And a VALID JPEG payload takes the real decode→scale→re-encode
    // branch: the resized payload must still be a decodable JPEG with
    // the target dims (not stride-sampled corrupt bytes).
    val raster = Seq((7L, 4, 4, Seq.fill(16)(0x406080)))
      .toDF("id", "w", "h", "pixels")
    val jpeg = graft.operators.Multimodal.encodeJpeg(raster, "id", "w", "h", "pixels")
    val small = graft.operators.Multimodal.resize(jpeg, "id", width = 2, height = 2)
      .select("payload").head().getAs[Array[Byte]](0)
    assert(small != null, "JPEG payload must resize, not NULL through")
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(small))
    assert(img != null && img.getWidth == 2 && img.getHeight == 2,
      "resized JPEG payload must decode at the target dims")
  }
}
