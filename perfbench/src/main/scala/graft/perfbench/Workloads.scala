package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.dedup.Dedup
import graft.operators.{CellIndex, KMeans, PageRank}
import graft.queries.{DedupSimQueries, GraphQueries, TrainingQueries}
import graft.search.Bm25Index
import graft.sim.Similarity
import graft.sources.Tables

/** Marks the part of an operation that builds DataFrames (the query
  * builder) as opposed to the action that runs them.
  */
trait Step {
  def build[T](f: => T): T
}

/** One operation of a workload. Untimed operations (dropping an
  * index, measuring its size) still count as attempted and can fail.
  */
final case class Op(name: String, family: String, kind: String, timed: Boolean, body: Step => Unit)

/** What a workload contributes to a run: a set-up step, the
  * operations of one pass (or maintenance cycle) and an untimed
  * correctness check after the timed passes.
  */
trait Workload {
  def name: String
  def prepare(): Unit
  def pass(index: Int, seed: Long): Seq[Op]
  /** Ops that verify results; each returns a mismatch message or None. */
  def checks(outDir: String): Seq[(String, () => Option[String])]
  def summary: Map[String, Any] = Map.empty
}

object Workloads {
  val Names: Seq[String] = Seq("census_etl", "index_maintain")
  val IndexFamilies: Seq[String] = Seq("cell", "part_edges", "sig_bands", "ivf", "bm25")

  def apply(name: String, spark: SparkSession, dataDir: String, seed: Long): Workload =
    name match {
      case "census_etl" => new QueryWorkload(name, spark, dataDir, Census)
      case "index_maintain" => new IndexWorkload(spark, dataDir, (seed % GraphQueries.DeltaMod).toInt)
      case other =>
        throw new IllegalArgumentException(s"unknown workload '$other' (expected one of ${Names.mkString(", ")})")
    }

  /** The reference's own versioned-ETL path: relational/ETL steps,
    * geography and audit queries. Fixed per-query cost (Catalyst,
    * codegen, scheduling) dominates at this size.
    */
  val Census: Seq[(String, String)] = Seq(
    "q01_agg" -> "relational",
    "q04_dedup_exact" -> "relational",
    "q07_derived_id" -> "relational",
    "q10_collision_merge" -> "relational",
    "q11_melt" -> "relational",
    "q13_scd2_upsert" -> "relational",
    "q17_star_join" -> "relational",
    "q86_census_aliases" -> "relational",
    "q23_utm_zone" -> "geo",
    "q124_polygon_dissolve" -> "geo",
    "q53_interval_audit" -> "audit",
    "q54_cdc_diff" -> "audit"
  )

  /** Deterministic permutation of `xs` for (seed, pass). */
  def permute[T](xs: Seq[T], seed: Long, pass: Int): Seq[T] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(xs)

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Rows as comparable values: sorted by a canonical rendering with
    * doubles rounded, compared exactly except doubles (relative and
    * absolute tolerance 1e-9).
    */
  def sameRows(a: Seq[Row], b: Seq[Row]): Option[String] = {
    def norm(v: Any): Any = v match {
      case d: Double => d
      case f: Float => f.toDouble
      case s: scala.collection.Seq[_] => s.map(norm).toVector
      case r: Row => r.toSeq.map(norm).toVector
      case o => o
    }
    def key(v: Any): String = v match {
      case d: Double => f"$d%.6f"
      case s: Vector[_] => s.map(key).mkString("[", ",", "]")
      case o => String.valueOf(o)
    }
    def close(x: Any, y: Any): Boolean = (x, y) match {
      case (p: Double, q: Double) =>
        (p.isNaN && q.isNaN) || math.abs(p - q) <= 1e-9 * math.max(1.0, math.max(math.abs(p), math.abs(q)))
      case (p: Vector[_], q: Vector[_]) => p.size == q.size && p.zip(q).forall { case (u, w) => close(u, w) }
      case _ => x == y
    }
    val (x, y) = (a.map(norm).sortBy(key), b.map(norm).sortBy(key))
    if (x.size != y.size) Some(s"${x.size} rows vs ${y.size} expected")
    else x.zip(y).find { case (u, w) => !close(u, w) }.map { case (u, w) => s"row $u vs expected $w" }
  }
}

/** census_etl: every pass runs the workload's query list once, in a
  * seed-permuted order, each query built by its `SparkEntry.queries`
  * builder and executed into the noop sink.
  */
final class QueryWorkload(
    val name: String,
    spark: SparkSession,
    dataDir: String,
    queries: Seq[(String, String)]
) extends Workload {
  queries.foreach { case (q, _) => require(SparkEntry.queries.contains(q), s"$name names unknown query $q") }

  def prepare(): Unit = ()

  def pass(index: Int, seed: Long): Seq[Op] =
    Workloads.permute(queries, seed, index).map { case (q, fam) =>
      val fn = SparkEntry.queries(q)
      Op(q, fam, "query", timed = true, step => Workloads.noop(step.build(fn(spark, dataDir))))
    }

  /** Each query's result lands as parquet for the oracle compare. */
  def checks(outDir: String): Seq[(String, () => Option[String])] =
    queries.map { case (q, _) =>
      q -> { () =>
        SparkEntry.queries(q)(spark, dataDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$q")
        None
      }
    }

  override def summary: Map[String, Any] =
    Map("oracle_sql" -> queries.flatMap { case (q, _) => SparkEntry.oracleSql.get(q).map(q -> _) }.toMap)
}

/** One persisted-index family under maintenance. A cycle rebuilds
  * the index from scratch over the base corpus (everything but the
  * batch), appends the batch, compacts and looks up.
  */
abstract class IndexFamily(val name: String, val inputs: Seq[String]) {
  def full: DataFrame
  def base: DataFrame
  def batch: DataFrame
  def drop(): Unit
  def write(corpus: DataFrame): Unit
  def appendBatch(rows: DataFrame): Unit
  def compact(): Unit
  def lookupFrame: DataFrame
  /** Directories holding the index's files. */
  def storage: Seq[String]

  def rebuild(s: Step): Unit = write(s.build(base))
  def append(s: Step): Unit = appendBatch(s.build(batch))
  def lookup(s: Step): Seq[Row] = s.build(lookupFrame).collect().toSeq

  /** The maintained index's lookup must equal the lookup on a fresh
    * rebuild over the whole corpus. Returns a mismatch or None.
    */
  def verify(maintained: Seq[Row]): Option[String] = {
    drop()
    write(full)
    val rebuilt = lookupFrame.collect().toSeq
    drop()
    Workloads.sameRows(maintained, rebuilt)
  }
}

/** index_maintain: per cycle, for each index family in a
  * seed-permuted order, rebuild → append → compact → lookup. The
  * seed's residue mod 5 picks the append batch.
  */
final class IndexWorkload(spark: SparkSession, dataDir: String, residue: Int) extends Workload {
  import DedupSimQueries._

  val name = "index_maintain"
  private val mod = GraphQueries.DeltaMod
  private val warehouse = new java.io.File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
  private def tablePath(t: String) = new java.io.File(warehouse, t).getPath
  private def dropPath(p: String): Unit = org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
  private def dropTable(t: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $t")
    dropPath(tablePath(t))
  }

  private lazy val emb = Tables.embeddings(spark, dataDir)
  private lazy val docs = Tables.documents(spark, dataDir)
  private def vecDelta = col("vec_id") % mod === residue
  private def docDelta = col("doc_id") % mod === residue

  private val cell = new IndexFamily("cell", Seq("embeddings")) {
    val T = "bench_cell_index"
    def full = emb
    def base = emb.filter(!vecDelta)
    def batch = emb.filter(vecDelta)
    def drop(): Unit = CellIndex.drop(spark, T)
    def write(corpus: DataFrame): Unit =
      CellIndex.ensure(corpus, "vec_id", "embedding", Some("label"), KmeansK, SemClusterTarget, KmeansIters, Dims, T)
    def appendBatch(rows: DataFrame): Unit = CellIndex.append(rows, "vec_id", "embedding", Some("label"), T)
    def compact(): Unit = CellIndex.compact(spark, T, maxFilesPerBucket = 1)
    def lookupFrame = CellIndex.readPrimary(spark, T).groupBy(col("cluster")).agg(count(lit(1)).as("n_vecs"))
    def storage: Seq[String] = Seq(tablePath(T), tablePath(s"${T}_cents"))

    /** A full rebuild retrains the geometry while an append keeps the
      * base's, so the index is checked against the whole corpus put
      * under its own stored geometry, with the arithmetic of
      * `CellIndex.append` (stored quantization scale, stored centroids,
      * `KMeans.assignMultiProbe`): every vector must be stored once per
      * probe with its label, its quantized embedding and its nearest
      * cells, and the lookup must count those rows.
      */
    override def verify(maintained: Seq[Row]): Option[String] = {
      val cents = spark.table(s"${T}_cents")
      val scale = java.lang.Double.longBitsToDouble(
        cents.filter(col("level") === "scale").select(col("cid")).head().getLong(0))
      val q = emb.select(
        col("vec_id"),
        expr(s"transform(CAST(embedding AS array<double>), x -> " +
          s"CAST(round(127 * x / ${java.lang.Double.toString(scale)}, 0) AS BIGINT) + ${KMeans.Shift})").as("qa"))
      val expected = KMeans
        .assignMultiProbe(
          q,
          cents.filter(col("level") === "fine").select(col("cid"), col("cell"), col("ca")),
          cents.filter(col("level") === "coarse").select(col("cid"), col("ca")),
          Dims)
        .join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
      val cols = Seq("vec_id", "probe", "cluster", "qa", "label").map(col)
      Workloads.sameRows(CellIndex.read(spark, T).select(cols: _*).collect().toSeq, expected.select(cols: _*).collect().toSeq)
        .map(m => s"stored rows differ from the corpus under the stored geometry: $m")
        .orElse(Workloads.sameRows(
          maintained,
          expected.filter(col("probe") === 1).groupBy(col("cluster")).agg(count(lit(1)).as("n_vecs")).collect().toSeq)
          .map(m => s"lookup differs from the corpus's occupancy: $m"))
    }
  }

  private val partEdges = new IndexFamily("part_edges", Seq("lineitem")) {
    val T = "bench_part_edges"
    private def delta = col("l_orderkey") % mod === residue
    def full = GraphQueries.partEdges(spark, dataDir)
    def base = GraphQueries.partEdges(spark, dataDir, !delta)
    def batch = GraphQueries.partEdges(spark, dataDir, delta)
    def drop(): Unit = dropTable(T)
    def write(corpus: DataFrame): Unit = PageRank.writeEdgeTable(corpus, T, GraphQueries.EdgeBuckets)
    def appendBatch(rows: DataFrame): Unit = PageRank.appendEdgeTable(rows, T)
    def compact(): Unit = PageRank.compactEdgeTable(spark, T, maxFilesPerBucket = 1)
    def lookupFrame = PageRank.runFromEdgeTable(spark, T, GraphQueries.PrDamping, GraphQueries.PrIterations)
    def storage: Seq[String] = Seq(tablePath(T))
  }

  /** MinHash band index. Signatures are taken under the whole corpus's
    * shingle document frequencies (the q87 convention), so a batch is
    * signed as a full rebuild signs it; lookup = the band join of a
    * probe set against the stored buckets.
    */
  private val sigBands = new IndexFamily("sig_bands", Seq("documents")) {
    val T = "bench_sig_bands"
    private def sigs =
      Dedup.minhashSignatures(Dedup.dfCapped(Dedup.shingles(docs, "doc_id", "text", 3), MaxShingleDf), NumPerms)
    def full = sigs
    def base = sigs.filter(!docDelta)
    def batch = sigs.filter(docDelta)
    def drop(): Unit = dropTable(T)
    def write(corpus: DataFrame): Unit = Dedup.writeSignatureIndex(corpus, T, NumPerms, RowsPerBand, SigIndexBuckets)
    def appendBatch(rows: DataFrame): Unit = Dedup.appendSignatureIndex(rows, T, NumPerms, RowsPerBand)
    def compact(): Unit = Dedup.compactSignatureIndex(spark, T, maxFilesPerBucket = 1)
    def lookupFrame =
      Dedup.lshCandidatesAgainstIndex(
        sigs.filter(col("doc_id") % 7 === 3), Dedup.readSignatureIndex(spark, T), NumPerms, RowsPerBand)
    def storage: Seq[String] = Seq(tablePath(T))
  }

  /** Cell-partitioned IVF directories. Appends are assigned under the
    * base corpus's centroids, and so is the check's full rebuild;
    * lookup = the probe-pruned top-k of five query vectors.
    */
  private val ivf = new IndexFamily("ivf", Seq("embeddings")) {
    val P = tablePath("bench_ivf")
    private def vecs = emb.select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
    private def cents = Similarity.ivfCentroids(vecs.filter(!vecDelta), IvfCells)
    def full = vecs
    def base = vecs.filter(!vecDelta)
    def batch = vecs.filter(vecDelta)
    def drop(): Unit = dropPath(P)
    def write(corpus: DataFrame): Unit = Similarity.writeIvfIndex(cents, corpus, P)
    def appendBatch(rows: DataFrame): Unit = Similarity.appendIvfIndex(cents, rows, P)
    def compact(): Unit = Similarity.compactIvfIndex(spark, P, maxFilesPerCell = 1)
    def lookupFrame = Similarity.ivfTopKFromIndex(spark, P, cents, vecs.filter(col("vec_id") < 5), AnnK, IvfNprobe)
    def storage: Seq[String] = Seq(P)
  }

  /** Token-bucketed BM25 postings plus the additive stats table;
    * lookup = the standing top-k queries.
    */
  private val bm25 = new IndexFamily("bm25", Seq("documents")) {
    val T = "bench_bm25"
    def full = docs
    def base = docs.filter(!docDelta)
    def batch = docs.filter(docDelta)
    def drop(): Unit = { dropTable(T); dropTable(s"${T}_stats") }
    def write(corpus: DataFrame): Unit =
      Bm25Index.writeIndex(corpus, "doc_id", "text", T, TrainingQueries.Bm25IndexBuckets)
    def appendBatch(rows: DataFrame): Unit = Bm25Index.appendIndex(rows, "doc_id", "text", T)
    def compact(): Unit = Bm25Index.compactIndex(spark, T, maxFilesPerBucket = 1)
    def lookupFrame = Bm25Index.search(spark, T, TrainingQueries.Bm25Queries, TrainingQueries.Bm25TopK)
    def storage: Seq[String] = Seq(tablePath(T), tablePath(s"${T}_stats"))
  }

  val all: Seq[IndexFamily] = Seq(cell, partEdges, sigBands, ivf, bm25)
  require(all.map(_.name) == Workloads.IndexFamilies)

  private val maintained = scala.collection.mutable.Map[String, Seq[Row]]()
  private val storedAfterAppend = scala.collection.mutable.Map[String, Long]()
  private val storedAfterCompact = scala.collection.mutable.Map[String, Long]()

  private def bytesUnder(paths: Seq[String]): Long =
    paths.map(new java.io.File(_)).filter(_.exists).map(org.apache.commons.io.FileUtils.sizeOfDirectory).sum

  private def inputBytes(f: IndexFamily): Long =
    f.inputs.map(t => new java.io.File(dataDir, s"$t.parquet").length).sum

  def prepare(): Unit = all.foreach(_.drop())

  def pass(index: Int, seed: Long): Seq[Op] =
    Workloads.permute(all, seed, index).flatMap { f =>
      Seq(
        Op(f.name, f.name, "drop", timed = false, _ => f.drop()),
        Op(f.name, f.name, "rebuild", timed = true, f.rebuild),
        Op(f.name, f.name, "append", timed = true, f.append),
        Op(f.name, f.name, "measure", timed = false, _ => storedAfterAppend(f.name) = bytesUnder(f.storage)),
        Op(f.name, f.name, "compact", timed = true, _ => f.compact()),
        Op(f.name, f.name, "measure", timed = false, _ => storedAfterCompact(f.name) = bytesUnder(f.storage)),
        Op(f.name, f.name, "lookup", timed = true, s => maintained(f.name) = f.lookup(s))
      )
    }

  /** After the timed cycles: each family's last lookup on the
    * appended and compacted index against a fresh rebuild.
    */
  def checks(outDir: String): Seq[(String, () => Option[String])] =
    all.map { f =>
      f.name -> { () =>
        maintained.get(f.name) match {
          case Some(m) => f.verify(m).map(msg => s"${f.name}: $msg")
          case None => Some(s"${f.name}: no lookup result to compare")
        }
      }
    }

  override def summary: Map[String, Any] = {
    val in = all.map(inputBytes).sum.toDouble
    Map(
      "input_bytes" -> in.toLong,
      "stored_bytes_after_append" -> storedAfterAppend.values.sum,
      "stored_bytes_after_compact" -> storedAfterCompact.values.sum,
      "stored_bytes_per_input_byte_after_append" -> storedAfterAppend.values.sum / in,
      "stored_bytes_per_input_byte_after_compact" -> storedAfterCompact.values.sum / in
    )
  }
}
