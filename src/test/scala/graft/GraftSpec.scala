package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(master = "local[4]", shufflePartitions = 4).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

class EntrySpec extends AnyFunSuite {
  import TestSpark._

  test("every declared query has rows at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n > 0, s"$name returned no rows")
    }
  }

  test("every oracle key corresponds to a query") {
    val qs = SparkEntry.queries.keySet
    val orphans = SparkEntry.oracleSql.keySet -- qs
    assert(orphans.isEmpty, s"oracle entries without queries: $orphans")
  }

  test("the SPARK_GRAFT_* reader names the variable on a malformed value or an unlisted name") {
    Seq(
      "SPARK_GRAFT_CPUS" -> "abc",
      "SPARK_GRAFT_AQE_ADVISORY_MB" -> "16m",
      "SPARK_GRAFT_CKPT_LEVEL" -> "DISK",
      "SPARK_GRAFT_CODEGEN_CACHE_ENTRIES" -> "4096"
    ).foreach { case (name, value) =>
      val e = intercept[IllegalArgumentException](GraftSession.checkEnv(Map(name -> value)))
      assert(e.getMessage.contains(name), s"$name=$value: message must name the variable: ${e.getMessage}")
    }
  }

  test("the SPARK_GRAFT_* reader passes listed, valid values") {
    val vars = Map(
      "SPARK_GRAFT_SF_DIR" -> "/data/sf1",
      "SPARK_GRAFT_CPUS" -> " 8 ",
      "SPARK_GRAFT_ONLY" -> "q01_agg",
      "SPARK_GRAFT_BENCH_PASSES" -> "2",
      "SPARK_GRAFT_BENCH_ONLY" -> "q01_agg,q02_join",
      "SPARK_GRAFT_BENCH_OUT" -> "/tmp/bench.json",
      "SPARK_GRAFT_OBSERVE" -> "1",
      "SPARK_GRAFT_SCALE_REPLICAS" -> "100",
      "SPARK_GRAFT_SCALE_TABLES" -> "documents,embeddings",
      "SPARK_GRAFT_AQE_INITIAL_FACTOR" -> "64",
      "SPARK_GRAFT_AQE_ADVISORY_MB" -> "16",
      "SPARK_GRAFT_CKPT_LEVEL" -> "DISK_ONLY",
      "PATH" -> "/usr/bin"
    )
    GraftSession.checkEnv(vars)
    assert(GraftSession.envLong("SPARK_GRAFT_CPUS", 32L, vars) == 8L)
    assert(GraftSession.envLong("SPARK_GRAFT_BENCH_PASSES", 2L, Map.empty) == 2L)
    assert(GraftSession.env("SPARK_GRAFT_CKPT_LEVEL", vars).contains("DISK_ONLY"))
  }

  test("the flagship entry runs and returns rows (the driver's smoke check)") {
    assert(SparkEntry.entry(spark).count() > 0, "entry must return rows at sf0.001")
  }

  test("q01_agg aggregates correctly") {
    val df = SparkEntry.queries("q01_agg")(spark, sf)
    assert(df.columns.sorted.toSeq == Seq("l_linestatus", "l_returnflag", "n_rows", "revenue", "sum_qty"))
    val total = df.agg(org.apache.spark.sql.functions.sum("n_rows")).head.getLong(0)
    assert(total == 6000L)
  }
}
