package graft.core

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point — the supported way to ship the
  * graft kernels into ANY session at build time, including sessions the
  * engine does not construct itself (e.g. a shared cluster session started
  * with `--conf spark.sql.extensions=graft.core.GraftExtensions`):
  *
  *   SparkSession.builder()
  *     .config("spark.sql.extensions", "graft.core.GraftExtensions")
  *     ...
  *
  * The same builders back [[GraftFunctions.register]], which remains for
  * after-the-fact registration into an already-built session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(builder.getClass.getName, name),
        (exprs: Seq[Expression]) => builder(exprs)))
    }
    // whole-operator planning: top-k-per-group heap exec (fires only on
    // its exact logical pattern AND when its conf flag is set — see
    // graft.plans.TopKPerGroup)
    ext.injectPlannerStrategy(session => graft.plans.TopKPerGroup.Strategy(session))
    // SQL CREATE/DROP VIEW + view reads for graft catalogs (X278) — a
    // delegating parser, the Delta/Iceberg injection pattern (Spark's own
    // analyzer routes view DDL to the session catalog only; see
    // graft.plans.GraftViewParser). Claims ONLY <graft-catalog>.<name>
    // statements; everything else passes through verbatim.
    ext.injectParser((session, delegate) =>
      new graft.plans.GraftViewParser(session, delegate))
  }
}

object GraftExtensions {
  /** Fully-qualified name for `spark.sql.extensions`. */
  val Name: String = classOf[GraftExtensions].getName
}
