package graft

import graft.operators.TextAnalysis
import org.scalatest.funsuite.AnyFunSuite

class TextChunkSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def chunksOf(text: String, chunkTokens: Int, overlap: Int): Seq[(Int, String)] =
    TextAnalysis.chunk(Seq((1L, text)).toDF("doc_id", "text"),
        "doc_id", "text", chunkTokens, overlap)
      .orderBy("chunk_idx")
      .collect().map(r => (r.getInt(1), r.getString(2))).toSeq

  test("windows, stride and overlap are exact") {
    val text = (1 to 10).map(i => s"w$i").mkString(" ") // 10 tokens
    val got = chunksOf(text, chunkTokens = 4, overlap = 2)
    // stride 2 → ceil((10-2)/2)=4 chunks: [1..4],[3..6],[5..8],[7..10]
    assert(got == Seq(
      0 -> "w1 w2 w3 w4", 1 -> "w3 w4 w5 w6",
      2 -> "w5 w6 w7 w8", 3 -> "w7 w8 w9 w10"))
  }

  test("a document shorter than one chunk yields exactly the document") {
    assert(chunksOf("a b c", 64, 16) == Seq(0 -> "a b c"))
    assert(chunksOf("solo", 64, 16) == Seq(0 -> "solo"))
  }

  test("every token is covered and consecutive chunks share the overlap") {
    val tokens = (1 to 257).map(i => s"t$i")
    val got = chunksOf(tokens.mkString(" "), chunkTokens = 64, overlap = 16)
    val covered = got.flatMap(_._2.split(" ")).toSet
    assert(covered == tokens.toSet, "tokens lost at chunk boundaries")
    got.sliding(2).foreach {
      case Seq((_, a), (_, b)) =>
        assert(a.split(" ").takeRight(16).toSeq == b.split(" ").take(16).toSeq,
          "adjacent chunks must share the overlap window")
      case _ =>
    }
  }

  test("invalid parameters fail loudly") {
    intercept[IllegalArgumentException](chunksOf("a b", 16, 16))
    intercept[IllegalArgumentException](chunksOf("a b", 16, -1))
  }
}
