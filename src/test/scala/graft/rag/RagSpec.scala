package graft.rag

import java.nio.charset.StandardCharsets

import graft.SparkSpec
import graft.ingest.IngestPipeline
import graft.streaming.ChatLog

class RagSpec extends SparkSpec {
  import spark.implicits._

  private lazy val store = {
    val rows = Seq(
      ("/up/spark.txt", "a@x.com", "spark runs distributed table scans and shuffles"),
      ("/up/cooking.txt", "a@x.com", "slow roast the onions then add garlic butter"),
      ("/up/other.txt", "b@y.com", "spark table scan notes of another tenant"))
      .map { case (p, u, t) => (p, u, t.getBytes(StandardCharsets.UTF_8)) }
      .toDF("path", "user", "content")
    IngestPipeline.ingest(spark, rows, None).chunks.cache()
  }

  test("retrieve returns at most k chunks, nearest first, tenant-scoped") {
    val got = Rag.retrieve(store, "spark table scan", "a@x.com", k = 2).collect()
    assert(got.length == 2)
    assert(got.forall(_.getAs[String]("user") == "a@x.com")) // no cross-tenant leakage
    val dists = got.map(_.getAs[Double]("dist"))
    assert(dists.sameElements(dists.sorted))
    // the on-topic chunk beats the cooking chunk
    assert(got.head.getAs[String]("text").contains("spark"))
  }

  test("context joins texts with blank lines in rank order") {
    val ctx = Rag.contextOf(Rag.retrieve(store, "spark table scan", "a@x.com", k = 2))
    val parts = ctx.split("\n\n")
    assert(parts.length == 2)
    assert(parts.head.contains("spark"))
  }

  test("prompt embeds context and question with the grounding instruction") {
    val p = Rag.ask(store, "what does spark do", "a@x.com", k = 1)
    assert(p.contains("Use ONLY the context"))
    assert(p.contains("Question: what does spark do"))
    assert(p.contains("spark"))
  }

  test("chat log appends timestamped records") {
    val dir = tmpDir("chatlog").toString + "/log"
    ChatLog.append(spark, dir, "a@x.com", "q1", "a1", 1700000000000000L)
    ChatLog.append(spark, dir, "a@x.com", "q2", "a2", 1700000060000000L)
    val log = spark.read.parquet(ChatLog.landingDir(dir))
    assert(log.count() == 2)
    assert(log.columns.toSet == Set("ts", "user", "question", "answer"))
  }
}
