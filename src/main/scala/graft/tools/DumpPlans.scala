package graft.tools

import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` of named SparkEntry queries to files —
  * the plan evidence for optimization rounds (guide §7.2). For the
  * imperative DML/fixture pipelines the final frame's plan is what a
  * reader of the query sees; the statement-level physical plans are in
  * the per-operator code paths and PlanAudit covers their shapes.
  *
  * Usage: runMain graft.tools.DumpPlans <outDir> <suffix> [q...]
  * Env: SF_DIR (default sf0.1); cores per `graft.Session`. */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r13")
    val suffix = args.lift(1).getOrElse("after")
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session()
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      val df = fn(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), plan)
      println(s"[plans] $name -> $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
