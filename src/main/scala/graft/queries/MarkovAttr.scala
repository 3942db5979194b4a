package graft.queries

/** SQL generators for [[EventQueries.markovAttribution]] — one text per
  * stage, shared verbatim by Spark and the DuckDB oracle (only the events
  * table name and the integer-division token differ). States: `start` +
  * the four non-purchase event types; absorbing `conv`/`null`. Column
  * abbreviations: st/ck/er/sg/vw + conv. */
object MarkovAttr {

  /** (state, column-tag) in fixed order; `start` is src-only. */
  val srcs: Seq[(String, String)] = Seq("start" -> "st", "click" -> "ck",
    "error" -> "er", "signup" -> "sg", "view" -> "vw")
  val dsts: Seq[(String, String)] = Seq("click" -> "ck", "error" -> "er",
    "signup" -> "sg", "view" -> "vw", "conv" -> "conv")
  private val trans = dsts.filter(_._2 != "conv")

  /** Stage 1 — journeys → transition counts → one WIDE matrix row per
    * scenario (base + one per removable channel), removal already
    * applied (dst = removed channel ⇒ redirected to the implicit
    * `null`, so its count simply drops out of the columns). */
  def matrixSql(events: String): String = {
    val cells = for ((s, st) <- srcs; (d, dt) <- dsts) yield
      s"""CAST(SUM(CASE WHEN src = '$s' AND dst = '$d'
         |  AND NOT (scenario = '$d') THEN c ELSE 0 END) AS BIGINT) AS c_${st}_$dt""".stripMargin
    val outs = for ((s, st) <- srcs) yield
      s"CAST(SUM(CASE WHEN src = '$s' THEN c ELSE 0 END) AS BIGINT) AS out_$st"
    val scen = ("base" +: trans.map(_._1))
      .map(v => s"SELECT '$v' AS scenario").mkString("\n  UNION ALL ")
    s"""WITH o AS (
       |  SELECT user_id, event_type, ts, event_id,
       |    MIN(CASE WHEN event_type = 'purchase' THEN ts END)
       |      OVER (PARTITION BY user_id) AS pts
       |  FROM $events),
       |pre AS (
       |  SELECT user_id, event_type, ts, event_id, pts FROM o
       |  WHERE event_type <> 'purchase' AND (pts IS NULL OR ts < pts)),
       |tr AS (
       |  SELECT COALESCE(lag(event_type) OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id), 'start') AS src,
       |    event_type AS dst
       |  FROM pre),
       |term AS (
       |  SELECT event_type AS src,
       |    CASE WHEN pts IS NOT NULL THEN 'conv' ELSE 'null' END AS dst
       |  FROM (SELECT user_id, event_type, pts,
       |      row_number() OVER (PARTITION BY user_id
       |        ORDER BY ts DESC, event_id DESC) AS rn
       |    FROM pre) z WHERE rn = 1),
       |up AS (
       |  SELECT user_id FROM $events WHERE event_type = 'purchase'
       |  GROUP BY user_id),
       |direct AS (
       |  SELECT 'start' AS src, 'conv' AS dst FROM up
       |  WHERE user_id NOT IN (SELECT DISTINCT user_id FROM pre)),
       |alltr AS (
       |  SELECT src, dst FROM tr
       |  UNION ALL SELECT src, dst FROM term
       |  UNION ALL SELECT src, dst FROM direct),
       |cnt AS (SELECT src, dst, COUNT(*) AS c FROM alltr GROUP BY 1, 2),
       |scen AS (
       |  $scen)
       |SELECT scenario,
       |  ${(cells ++ outs).mkString(",\n  ")}
       |FROM scen CROSS JOIN cnt GROUP BY scenario""".stripMargin
  }

  /** Stage 2 — the integer absorption fixpoint: p columns iterate via
    * pure column arithmetic; a step that changes nothing emits no row,
    * so the recursion self-terminates at the exact fixpoint. Emits the
    * converged `p_start` per scenario. */
  def fixpointSql(matrixView: String, idiv: String): String = {
    val carry = (for ((_, st) <- srcs; (_, dt) <- dsts)
      yield s"c_${st}_$dt").mkString(", ") + ", " +
      srcs.map { case (_, st) => s"out_$st" }.mkString(", ")
    def pNew(st: String) =
      s"""CASE WHEN out_$st = 0 THEN CAST(0 AS BIGINT) ELSE
         |  (${trans.map { case (_, dt) => s"c_${st}_$dt * p_$dt" }.mkString(" + ")}
         |   + c_${st}_conv * 1000000000) $idiv out_$st END""".stripMargin
    val pInit = trans.map { case (_, dt) => s"CAST(0 AS BIGINT) AS p_$dt" }
      .mkString(", ")
    val pStep = trans.map { case (_, dt) =>
      s"(${pNew(dt).replace("\n", " ")}) AS n_$dt" }.mkString(",\n    ")
    val changed = trans.map { case (_, dt) => s"x.n_$dt <> x.p_$dt" }
      .mkString(" OR ")
    val pCols = trans.map(_._2)
    s"""WITH RECURSIVE
       |rec AS (
       |  SELECT scenario, 0 AS iter, $carry, $pInit
       |  FROM $matrixView
       |  UNION ALL
       |  SELECT x.scenario, x.iter + 1, ${(for ((_, st) <- srcs; (_, dt) <- dsts)
            yield s"x.c_${st}_$dt").mkString(", ")},
       |    ${srcs.map { case (_, st) => s"x.out_$st" }.mkString(", ")},
       |    ${pCols.map(dt => s"x.n_$dt").mkString(", ")}
       |  FROM (
       |    SELECT rec.*,
       |    $pStep
       |    FROM rec) x
       |  WHERE $changed),
       |last AS (SELECT scenario, MAX(iter) AS li FROM rec GROUP BY scenario)
       |SELECT r.scenario,
       |  (CASE WHEN r.out_st = 0 THEN CAST(0 AS BIGINT) ELSE
       |    (${trans.map { case (_, dt) => s"r.c_st_$dt * r.p_$dt" }.mkString(" + ")}
       |     + r.c_st_conv * 1000000000) $idiv r.out_st END) AS p_start,
       |  r.iter AS n_iter
       |FROM rec r JOIN last l ON l.scenario = r.scenario AND l.li = r.iter""".stripMargin
  }

  /** Iteration bound for [[fixpointLocal]]: the bounded-integer fixpoint
    * converges in tens of steps; a matrix that does not is rejected
    * loudly instead of spinning the driver. */
  val FixpointMaxIters = 10000

  /** Driver-local twin of [[fixpointSql]] over the COLLECTED matrix rows
    * (r17, guide §1.2): the fixpoint's whole state is 5 scenario rows ×
    * 30 bounded integer columns — scenario count is fixed by the event
    * vocabulary, independent of data size — while Spark's `WITH
    * RECURSIVE` (UnionLoop) pays one driver-bound job per step (~30
    * steps ≈ 2 s of pure scheduling at any scale). Same arithmetic,
    * same order, same `div`/termination semantics as the SQL text, so
    * the emitted (scenario, p_start, n_iter) rows are bit-identical —
    * the DuckDB oracle still runs the recursion as SQL and agrees. */
  def fixpointLocal(spark: org.apache.spark.sql.SparkSession,
      matrix: Array[org.apache.spark.sql.Row]): org.apache.spark.sql.DataFrame = {
    val pTags = trans.map(_._2) // ck, er, sg, vw — the iterating p columns
    val fin = matrix.toSeq.map { r =>
      def c(st: String, dt: String) = r.getLong(r.fieldIndex(s"c_${st}_$dt"))
      def o(st: String) = r.getLong(r.fieldIndex(s"out_$st"))
      def step(st: String, p: Seq[Long]): Long =
        if (o(st) == 0L) 0L
        else (pTags.zip(p).map { case (dt, pd) => c(st, dt) * pd }.sum +
          c(st, "conv") * 1000000000L) / o(st)
      var p = pTags.map(_ => 0L)
      var iter = 0
      var changed = true
      while (changed) {
        require(iter < FixpointMaxIters,
          s"markov fixpoint did not converge in $FixpointMaxIters iterations")
        val np = pTags.map(step(_, p))
        changed = np != p
        if (changed) { p = np; iter += 1 }
      }
      (r.getString(r.fieldIndex("scenario")), step("st", p), iter)
    }
    spark.createDataFrame(fin).toDF("scenario", "p_start", "n_iter")
  }

  /** Stage 3 — removal effects and normalized shares over the converged
    * fixpoint rows. */
  def shareSql(finView: String, idiv: String): String =
    s"""WITH b AS (SELECT p_start AS pb FROM $finView WHERE scenario = 'base'),
       |ch AS (SELECT scenario AS channel, p_start, n_iter
       |  FROM $finView WHERE scenario <> 'base'),
       |tot AS (SELECT SUM((SELECT pb FROM b) - p_start) AS te FROM ch)
       |SELECT channel, CAST((SELECT pb FROM b) AS BIGINT) AS base_e9,
       |  CAST(p_start AS BIGINT) AS removed_e9,
       |  CAST((SELECT pb FROM b) - p_start AS BIGINT) AS effect_e9,
       |  CAST(CASE WHEN (SELECT te FROM tot) > 0 THEN
       |    (((SELECT pb FROM b) - p_start) * 1000000) $idiv (SELECT te FROM tot)
       |  ELSE 0 END AS BIGINT) AS share_e6
       |FROM ch ORDER BY channel""".stripMargin

  /** The whole pipeline as ONE statement — the DuckDB oracle form. */
  def oracleSql(events: String): String = {
    val m = matrixSql(events)
    val fx = fixpointSql("m", "//")
    // splice: matrix CTEs + m, then the recursive fixpoint's CTE list,
    // then shares over fin
    val mBody = m.replaceFirst("^WITH ", "").trim
    val mCtes = mBody.substring(0, mBody.lastIndexOf("SELECT scenario,")).trim
    val mFinal = mBody.substring(mBody.lastIndexOf("SELECT scenario,")).trim
    val fxBody = fx.replaceFirst("^WITH RECURSIVE\\s*", "")
    val fxCtes = fxBody.substring(0, fxBody.lastIndexOf("SELECT r.scenario"))
      .trim.stripSuffix(",")
    val fxFinal = fxBody.substring(fxBody.lastIndexOf("SELECT r.scenario")).trim
    val sh = shareSql("fin", "//").replaceFirst("^WITH ", "").trim
    s"""WITH RECURSIVE $mCtes,
       |m AS (
       |$mFinal),
       |$fxCtes,
       |fin AS (
       |$fxFinal),
       |$sh""".stripMargin
  }
}
