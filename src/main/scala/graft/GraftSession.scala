package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session policy. Every entry point (Bench, Verify,
  * ScaleBench, DebugProbe, Explain, tools.TrainCheckpoint) and the test
  * `SparkSpec` start from this builder, so the conf they run under is the
  * conf the graded bench runs under. Callers add only what is theirs
  * (an app name, DebugProbe's `-c key=value` overrides) before
  * `getOrCreate()`. */
object GraftSession {
  def builder(cores: Int): SparkSession.Builder = {
    require(cores > 0, s"cores must be positive, got $cores")
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.extensions", graft.core.GraftExtensions.Name)
      .config("spark.sql.shuffle.partitions", cores.toString)
      // r17 (guide §2.2 AQE coalescing): let AQE re-plan the partitioning
      // of plans that feed .cache() — the default (false) pins every
      // cached iterative frame (BFS/PageRank/k-core rounds) to the full
      // shuffle.partitions count, paying cpus tasks per tiny per-round
      // shuffle; with it on, AQE coalesces them by size (scale-adaptive:
      // full partitions at warehouse scale are untouched). Measured:
      // ppr_seeded 164 -> 41 tasks, taskMs halved, oracle-identical rows.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
  }
}
