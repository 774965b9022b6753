package graft

/** Dump `.explain("formatted")` for SparkEntry queries to files — the
  * plans/rNN before/after evidence an optimization round commits.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *   sbt "runMain graft.PlanDump /root/repo/plans/r19 before [name substrings...]"
  *
  * Writes <outDir>/<query>_<suffix>.txt with the FORMATTED physical
  * plan (initial plan, AQE isFinalPlan=false — the shape PlanSpec's
  * budgets gate on). Queries whose construction has side effects
  * (index writes) pay them here exactly as Bench does.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <suffix> [name substrings...]")
    val outDir = java.nio.file.Paths.get(args(0))
    val suffix = args(1)
    val filters = args.drop(2)
    java.nio.file.Files.createDirectories(outDir)
    val sfDir = GraftSession.envOr("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.localBuilder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      filters.isEmpty || filters.exists(n.contains)
    }
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), plan)
        println(s"[plandump] $name -> ${name}_$suffix.txt (${plan.length} chars)")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
