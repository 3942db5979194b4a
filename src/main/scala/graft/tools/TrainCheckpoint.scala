package graft.tools

import java.nio.file.{Files, Paths}

import graft.functions.TinyTransformer
import graft.queries.ScaleQueries

/** One-shot artifact builder for the served transformer checkpoints —
  * the training half of the model-registry shape the serving path
  * ([[TinyTransformer.writeServedWeights]]) reads from: for each fixture
  * corpus, run the full deterministic pipeline (skip-gram embeddings
  * over the ≤ 2000-doc sample, batch-hard triplet fine-tune of the
  * mixing blocks on the doc_id < 200 slice) and write the checkpoint to
  * `src/main/resources/graft/checkpoints/tt-<contentId>.bin`. The
  * content id hashes the exact training texts, so a drifted corpus can
  * never be served a stale artifact — it falls back and this tool is
  * re-run. Minutes per corpus by design (it IS the training job); run
  * manually, commit the artifacts. */
object TrainCheckpoint {
  def main(args: Array[String]): Unit = {
    val dirs =
      if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
    val outDir = Paths.get("src/main/resources/graft/checkpoints")
    Files.createDirectories(outDir)
    val spark = graft.GraftSession.builder(8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    dirs.foreach { dir =>
      val (corpus, slice) = ScaleQueries.ttCorpus(spark, dir)
      val cfg = ScaleQueries.ttServedConfig
      val id = TinyTransformer.checkpointId(cfg, corpus, slice)
      val out = outDir.resolve(s"tt-$id.bin")
      if (Files.exists(out)) println(s"$dir -> $out (already present)")
      else {
        val t0 = System.nanoTime()
        val w = TinyTransformer.fineTunedWeights(cfg, corpus, slice)
        TinyTransformer.writeWeights(out.toString, cfg, w)
        println(f"$dir -> $out (${corpus.length} docs, ${slice.length} slice, " +
          f"${(System.nanoTime() - t0) / 1e9}%.1f s)")
      }
    }
    spark.stop()
  }
}
