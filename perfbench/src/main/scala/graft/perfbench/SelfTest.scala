package graft.perfbench

import graft.GraftSession

/** Checks the runner's failure accounting and tracing on a real
  * session: an operation that throws is recorded with its error in
  * every pass and counted as failed, never dropped; a traced
  * operation's self times sum to its wall time.
  *
  * Usage: SelfTest <work dir>  (exits non-zero on a failed check)
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val dir = new java.io.File(args(0))
    val spark = GraftSession
      .builder("local[2]", 2)
      .config("spark.sql.warehouse.dir", new java.io.File(dir, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new java.io.File(dir, "spark-local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val good = Op("good", "t", "query", timed = true,
      s => Workloads.noop(s.build(spark.range(1000).groupBy((org.apache.spark.sql.functions.col("id") % 7).as("k")).count())))
    val bad = Op("bad", "t", "query", timed = true, s => {
      s.build(spark.range(10))
      throw new IllegalStateException("planted failure")
    })
    val workload = new Workload {
      def name = "selftest"
      def prepare(): Unit = ()
      def pass(index: Int, seed: Long) = Seq(good, bad)
      def checks(outDir: String) = Nil
    }
    val runner = new Runner(spark, workload, 0L, new java.io.File(dir, "warehouse"))
    val passes = Seq(runner.runPass(0, traced = false), runner.runPass(1, traced = true))
    val (attempted, failures) = Main.tally(passes, Seq("check" -> Some("planted mismatch"), "ok" -> None))
    spark.stop()

    def check(cond: Boolean, what: String): Unit = if (!cond) throw new AssertionError(what)
    check(attempted == 6, s"attempted $attempted, expected 6 (4 operations + 2 checks)")
    check(failures.size == 3, s"${failures.size} failures, expected 3: $failures")
    check(failures.count(_("name") == "bad") == 2, "the throwing operation is not counted in both passes")
    check(failures.forall(f => f("name") != "bad" || f("error").toString.contains("planted failure")),
      "the throwing operation's error is not recorded")
    check(passes.forall(p => p.timedOps.map(_.name) == Seq("good")), "a failed operation is timed as a success")
    val t = passes(1).ops.find(_.name == "good").flatMap(_.trace)
      .getOrElse(throw new AssertionError("the traced pass recorded no trace"))
    check(t.jobs.nonEmpty && t.stages.nonEmpty && t.tasks > 0, "the traced operation recorded no job, stage or task")
    check(math.abs(t.selfTimes.map(_._2).sum - t.wallS) < 1e-9, s"self times ${t.selfTimes} do not sum to ${t.wallS}")
    println("selftest ok")
  }
}
