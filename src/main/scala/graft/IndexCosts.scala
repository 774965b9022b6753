package graft

import org.apache.spark.sql.functions._

import graft.operators.{KMeans, PageRank}
import graft.queries.{DedupSimQueries, GraphQueries, TrainingQueries}
import graft.sim.Similarity
import graft.sources.Tables

/** Steady-state phase prices for the persisted-index families
  * (r11 verdict #6). q87/q104/q107/q117/q125 rebuild their persisted
  * index INSIDE the timed query in every bench pass — honest for a
  * from-scratch run, but a 100 TB cluster pays the build once per
  * ingest batch and the query many times. Each runner times a
  * builder's phases separately:
  *
  *   - `rebuild`: the full from-scratch index build over the whole
  *     corpus (what the bench rows include);
  *   - `append`: the incremental maintenance path — the newest
  *     1/DeltaMod of the corpus appended into an existing base index
  *     under the frozen layout/geometry (the machinery the append ≡
  *     rebuild specs already prove answer-invisible);
  *   - `query`: the pure read path over a warm, complete index;
  *   - `compact`: one rewrite of the append-grown files.
  *
  * Bench emits one pass of these as its `index_phases` object.
  */
object IndexCosts {

  /** Phase seconds; `compact` is -1 when a run skipped the phase and
    * is then omitted from artifacts.
    */
  case class Phases(rebuild: Double, append: Double, query: Double, compact: Double = -1.0)

  /** The six persisted-index families' phase runners, behind Bench's
    * per-round phase-split emission (r13 verdict #5:
    * the headline bench conflates rebuild+append+query for the index
    * queries, so host wobble on one number took a separate
    * INDEX_COSTS run to adjudicate — now every bench artifact carries
    * the split). Artifacts live under `*_costs` names so a phase run
    * never clobbers the sweep queries' own tables.
    */
  def phaseRunners(
      spark: org.apache.spark.sql.SparkSession,
      sfDir: String
  ): Seq[(String, () => Phases)] = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val mod = GraphQueries.DeltaMod // the q104 base/delta convention: newest 1/5 arrives as the batch
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def dropTable(t: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val ident = spark.sessionState.sqlParser.parseTableIdentifier(t)
      val loc = new org.apache.hadoop.fs.Path(spark.sessionState.catalog.defaultTablePath(ident))
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
    def dropPath(p: String): Unit = {
      val loc = new org.apache.hadoop.fs.Path(p)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }

    // q104: the bucketed part-edge table. rebuild = derive + bucketed
    // write of ALL edges; append = raw-observation append of the delta
    // orders preserving the layout; query = 5 PageRank rounds reading
    // the stored buckets (zero exchange on the edge side).
    def pagerankOnce(): Phases = {
      val T = "graft_part_edges_costs"
      dropTable(T)
      val rebuild = timed {
        PageRank.writeEdgeTable(GraphQueries.partEdges(spark, sfDir), T, GraphQueries.EdgeBuckets)
      }
      val query = timed {
        noop(PageRank.runFromEdgeTable(spark, T, GraphQueries.PrDamping, GraphQueries.PrIterations))
      }
      dropTable(T)
      PageRank.writeEdgeTable(
        GraphQueries.partEdges(spark, sfDir, col("l_orderkey") % mod =!= 0), T, GraphQueries.EdgeBuckets)
      val append = timed {
        PageRank.appendEdgeTable(GraphQueries.partEdges(spark, sfDir, col("l_orderkey") % mod === 0), T)
      }
      // per-rewrite compaction price (threshold 1 so the one append
      // above triggers — the shared-Formats r15 phase, every family)
      val compact = timed {
        PageRank.compactEdgeTable(spark, T, maxFilesPerBucket = 1)
      }
      dropTable(T)
      Phases(rebuild, append, query, compact)
    }

    // q117: the token-bucketed BM25 postings + stats tables. rebuild =
    // full postings build; append = batch postings + additive stats
    // merge; query = the 3 standing queries over the warm index.
    def bm25Once(): Phases = {
      val T = "graft_bm25_index_costs"
      val docs = Tables.documents(spark, sfDir)
      dropTable(T); dropTable(s"${T}_stats")
      val rebuild = timed {
        graft.search.Bm25Index.writeIndex(docs, "doc_id", "text", T, TrainingQueries.Bm25IndexBuckets)
      }
      val query = timed {
        noop(graft.search.Bm25Index.search(spark, T, TrainingQueries.Bm25Queries, TrainingQueries.Bm25TopK))
      }
      dropTable(T); dropTable(s"${T}_stats")
      graft.search.Bm25Index.writeIndex(
        docs.filter(col("doc_id") % mod =!= 0), "doc_id", "text", T, TrainingQueries.Bm25IndexBuckets)
      val append = timed {
        graft.search.Bm25Index.appendIndex(docs.filter(col("doc_id") % mod === 0), "doc_id", "text", T)
      }
      val compact = timed {
        graft.search.Bm25Index.compactIndex(spark, T, maxFilesPerBucket = 1)
      }
      dropTable(T); dropTable(s"${T}_stats")
      Phases(rebuild, append, query, compact)
    }

    // q125: the cell-partitioned IVF+PQ code directories. rebuild =
    // assign + encode + partitioned write of the whole corpus; append
    // = the batch encoded under the base corpus's frozen centroids/
    // codebooks into the same directories; query = DPP-pruned ADC
    // probe + exact re-rank over the warm index.
    def ivfpqOnce(): Phases = {
      val P = "target/graft_ivfpq_index_costs"
      import DedupSimQueries._
      val q = KMeans.quantizeShifted(Tables.embeddings(spark, sfDir), "vec_id", "embedding").localCheckpoint()
      dropPath(P)
      val rebuild = timed {
        Similarity.writeIvfPqIndex(q, IvfPqCells, PqSubspaces, PqSubDim, PqCodewords, P)
      }
      val query = timed {
        noop(
          Similarity.ivfPqTopKFromIndex(
            spark, P, q, q.filter(col("vec_id") < 5),
            IvfPqCells, PqSubspaces, PqSubDim, PqCodewords, IvfPqNprobe, IvfPqRerank, AnnK, Dims))
      }
      dropPath(P)
      // id-RANGE split, not mod: centroids/codebooks seed from the
      // FIRST vec_ids (the deterministic-centroid convention), so the
      // base corpus must keep its dense id prefix — the newest 1/mod
      // of the id space arrives as the batch
      val maxId = q.agg(max(col("vec_id"))).head().getLong(0)
      val cut = maxId - (maxId + 1) / mod
      val base = q.filter(col("vec_id") <= cut)
      Similarity.writeIvfPqIndex(base, IvfPqCells, PqSubspaces, PqSubDim, PqCodewords, P)
      val append = timed {
        Similarity.appendIvfPqIndex(
          base, q.filter(col("vec_id") > cut), IvfPqCells, PqSubspaces, PqSubDim, PqCodewords, P)
      }
      val compact = timed {
        Similarity.compactIvfPqIndex(spark, P, maxFilesPerCell = 1)
      }
      dropPath(P)
      Phases(rebuild, append, query, compact)
    }

    // the shared cell partition (q82/q129/q133/q138/q142): rebuild =
    // drop + ensure (two-level training + bucketed write + stamps);
    // append = the newest id-range batch under frozen geometry; query
    // = the q142 occupancy read off the stored buckets. Bench prices
    // the rebuild as cell_index_build_sec; this adds the append and
    // pure-read phases beside it.
    def cellOnce(): Phases = {
      val T = "graft_cell_index_costs"
      import DedupSimQueries.{Dims, KmeansIters, KmeansK, SemClusterTarget}
      val emb = Tables.embeddings(spark, sfDir)
      graft.operators.CellIndex.drop(spark, T)
      val rebuild = timed {
        graft.operators.CellIndex
          .ensure(emb, "vec_id", "embedding", Some("label"), KmeansK, SemClusterTarget, KmeansIters, Dims, T)
      }
      val query = timed {
        noop(
          graft.operators.CellIndex
            .readPrimary(spark, T)
            .groupBy(col("cluster"))
            .agg(count(lit(1)).as("n_vecs")))
      }
      graft.operators.CellIndex.drop(spark, T)
      val maxId = emb.agg(max(col("vec_id"))).head().getLong(0)
      val cut = maxId - (maxId + 1) / mod
      graft.operators.CellIndex
        .ensure(emb.filter(col("vec_id") <= cut), "vec_id", "embedding", Some("label"), KmeansK, SemClusterTarget, KmeansIters, Dims, T)
      val append = timed {
        graft.operators.CellIndex.append(emb.filter(col("vec_id") > cut), "vec_id", "embedding", Some("label"), T)
      }
      // the r14 maintenance phase: rewrite the append-grown files back
      // to one per bucket (threshold 1 so the one append above
      // triggers it — the per-rewrite price, not the cadence)
      val compact = timed {
        graft.operators.CellIndex.compact(spark, T, maxFilesPerBucket = 1)
      }
      graft.operators.CellIndex.drop(spark, T)
      Phases(rebuild, append, query, compact)
    }

    // q87: the bucketed MinHash signature band index. Each phase pays
    // its own shingle→minhash signature computation (a real ingest
    // batch does — the signatures are derived from the arriving docs,
    // not a free-floating artifact): rebuild = sign + bucketed band
    // write of the whole corpus; append = the newest 1/DeltaMod of
    // docs signed + band rows appended under the frozen bucket
    // layout; query = the recurring band join — a probe batch's
    // candidates against the warm index, exchange-free on the index
    // side (PlanSpec).
    def sigIndexOnce(): Phases = {
      import DedupSimQueries.{MaxShingleDf, NumPerms, RowsPerBand, SigIndexBuckets}
      val T = "graft_sig_index_costs"
      val docs = Tables.documents(spark, sfDir)
      def sigsFor(d: org.apache.spark.sql.DataFrame) =
        graft.dedup.Dedup.minhashSignatures(
          graft.dedup.Dedup.dfCapped(graft.dedup.Dedup.shingles(d, "doc_id", "text", 3), MaxShingleDf),
          NumPerms)
      dropTable(T)
      val rebuild = timed {
        graft.dedup.Dedup.writeSignatureIndex(sigsFor(docs), T, NumPerms, RowsPerBand, SigIndexBuckets)
      }
      val query = timed {
        noop(
          graft.dedup.Dedup.lshCandidatesAgainstIndex(
            sigsFor(docs.filter(col("doc_id") % 7 === 3)),
            graft.dedup.Dedup.readSignatureIndex(spark, T),
            NumPerms,
            RowsPerBand))
      }
      dropTable(T)
      graft.dedup.Dedup.writeSignatureIndex(
        sigsFor(docs.filter(col("doc_id") % mod =!= 0)), T, NumPerms, RowsPerBand, SigIndexBuckets)
      val append = timed {
        graft.dedup.Dedup.appendSignatureIndex(sigsFor(docs.filter(col("doc_id") % mod === 0)), T, NumPerms, RowsPerBand)
      }
      val compact = timed {
        graft.dedup.Dedup.compactSignatureIndex(spark, T, maxFilesPerBucket = 1)
      }
      dropTable(T)
      Phases(rebuild, append, query, compact)
    }

    // q107: the cent_id-partitioned IVF directories. rebuild =
    // centroid derivation + nearest-cell assignment + partitioned
    // write of the whole corpus; append = the newest id-range batch
    // assigned under the BASE corpus's centroids (ivfCentroids seeds
    // from the first vec_ids, so the dense id prefix stays with the
    // base — the q125 convention) into the same directories; query =
    // the DPP-pruned probe over the warm index.
    def ivfOnce(): Phases = {
      import DedupSimQueries.{AnnK, IvfCells, IvfNprobe}
      val P = "target/graft_ivf_index_costs"
      val e = Tables
        .embeddings(spark, sfDir)
        .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
      dropPath(P)
      val rebuild = timed {
        Similarity.writeIvfIndex(Similarity.ivfCentroids(e, IvfCells), e, P)
      }
      val cents = Similarity.ivfCentroids(e, IvfCells)
      val query = timed {
        noop(Similarity.ivfTopKFromIndex(spark, P, cents, e.filter(col("vec_id") < 5), AnnK, IvfNprobe))
      }
      dropPath(P)
      val maxId = e.agg(max(col("vec_id"))).head().getLong(0)
      val cut = maxId - (maxId + 1) / mod
      val base = e.filter(col("vec_id") <= cut)
      val baseCents = Similarity.ivfCentroids(base, IvfCells)
      Similarity.writeIvfIndex(baseCents, base, P)
      val append = timed {
        Similarity.appendIvfIndex(baseCents, e.filter(col("vec_id") > cut), P)
      }
      val compact = timed {
        Similarity.compactIvfIndex(spark, P, maxFilesPerCell = 1)
      }
      dropPath(P)
      Phases(rebuild, append, query, compact)
    }

    Seq(
      "q87_bucketed_index_dedup" -> (() => sigIndexOnce()),
      "q104_pagerank_delta" -> (() => pagerankOnce()),
      "q107_ann_ivf_index" -> (() => ivfOnce()),
      "q117_bm25_index" -> (() => bm25Once()),
      "q125_ivfpq_topk" -> (() => ivfpqOnce()),
      "cell_index" -> (() => cellOnce())
    )
  }
}
