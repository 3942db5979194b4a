package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The heap-based top-k-per-group physical operator vs WindowExec:
  * result equality on random data, boundary ks, cross-partition groups,
  * and the strategy's firing conditions. */
class TopKPerGroupSpec extends SparkSpec {
  import spark.implicits._

  // the shared session already carries TopKPerGroup.Strategy through
  // GraftExtensions; only the flag is toggled, and restored afterwards
  private def withStrategy[T](f: => T): T = {
    val prev = spark.conf.getOption(TopKPerGroup.EnabledKey)
    spark.conf.set(TopKPerGroup.EnabledKey, "true")
    try f finally prev.fold(spark.conf.unset(TopKPerGroup.EnabledKey))(
      spark.conf.set(TopKPerGroup.EnabledKey, _))
  }

  private val rnd = new scala.util.Random(20260814L)
  private def data(n: Int, groups: Int): DataFrame =
    (1 to n).map(i => (rnd.nextInt(groups).toLong, i.toLong, rnd.nextInt(1000)))
      .toDF("g", "id", "v")
      .repartition(5) // groups start scattered: the exec must demand the exchange

  private def ranked(df: DataFrame, k: Int) = df
    .withColumn("rn", row_number().over(
      Window.partitionBy(col("g")).orderBy(col("v").desc, col("id").asc)))
    .filter(col("rn") <= k)

  private def collected(df: DataFrame): Set[(Long, Long, Int, Int)] =
    df.select("g", "id", "v", "rn").as[(Long, Long, Int, Int)].collect().toSet

  test("heap exec equals WindowExec on random data, including k >= group size") {
    val df = data(5000, 37)
    Seq(1, 3, 10, 1000).foreach { k =>
      val (heap, window) = (withStrategy {
        val q = ranked(df, k)
        assert(q.queryExecution.executedPlan.toString.contains("TopKPerGroup"),
          s"strategy must fire for k=$k")
        collected(q)
      }, collected(ranked(df, k)))
      assert(heap == window, s"k=$k: heap and window results must be identical")
      assert(heap.nonEmpty)
    }
  }

  test("rn = 1 and rn < k forms fire too; ties resolve by the total order") {
    val df = Seq((1L, 1L, 5), (1L, 2L, 5), (1L, 3L, 5), (2L, 4L, 7))
      .toDF("g", "id", "v").repartition(3)
    withStrategy {
      val eq1 = df.withColumn("rn", row_number().over(
          Window.partitionBy(col("g")).orderBy(col("v").desc, col("id").asc)))
        .filter(col("rn") === 1)
      assert(eq1.queryExecution.executedPlan.toString.contains("TopKPerGroup"))
      assert(collected(eq1) == Set((1L, 1L, 5, 1), (2L, 4L, 7, 1)))
      val lt3 = df.withColumn("rn", row_number().over(
          Window.partitionBy(col("g")).orderBy(col("v").desc, col("id").asc)))
        .filter(col("rn") < 3)
      assert(lt3.queryExecution.executedPlan.toString.contains("TopKPerGroup"))
      assert(collected(lt3) ==
        Set((1L, 1L, 5, 1), (1L, 2L, 5, 2), (2L, 4L, 7, 1)))
    }
  }

  test("strategy does NOT fire: conf off, rank() instead of row_number, non-literal bound") {
    val df = data(200, 5)
    // conf off
    val off = ranked(df, 3)
    assert(!off.queryExecution.executedPlan.toString.contains("TopKPerGroup"))
    withStrategy {
      // rank() is not row_number: ties share ranks, the heap would lie
      val rk = df.withColumn("rn", rank().over(
          Window.partitionBy(col("g")).orderBy(col("v").desc)))
        .filter(col("rn") <= 3)
      assert(!rk.queryExecution.executedPlan.toString.contains("TopKPerGroup"))
      // correctness either way
      assert(rk.count() >= 3)
    }
  }

  test("empty input and single-group (empty partitionSpec requires AllTuples) stay correct") {
    withStrategy {
      val empty = ranked(data(100, 4).filter(col("v") > 10000), 3)
      assert(empty.count() == 0)
      // global top-k: no PARTITION BY — PlanSpec's unpartitioned-window
      // guard forbids this shape in declared queries over unbounded
      // input, but the OPERATOR must still be correct on it
      val df = data(500, 1).limit(300)
      val global = df.withColumn("rn", row_number().over(
          Window.orderBy(col("v").desc, col("id").asc)))
        .filter(col("rn") <= 5)
      val got = collected(global)
      assert(got.size == 5)
      assert(got.map(_._4) == Set(1, 2, 3, 4, 5))
    }
  }
}
