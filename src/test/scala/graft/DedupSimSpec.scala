package graft

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Verifies the hash-dependent operators (q32/q33/q36 — rows-only at
  * the driver gate) against their exact counterparts at sf0.001.
  */
class DedupSimSpec extends AnyFunSuite {
  import TestSpark._

  private def pairs(name: String): Set[(Long, Long)] =
    SparkEntry
      .queries(name)(spark, sf)
      .select("doc_a", "doc_b")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet

  test("minhash-LSH + exact verify finds every exact Jaccard pair (no false positives by construction)") {
    val exact = pairs("q31_dedup_ngram_jaccard")
    val lsh = pairs("q32_dedup_minhash_lsh")
    assert(lsh.subsetOf(exact), s"LSH emitted non-pairs: ${lsh -- exact}")
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.9, s"LSH recall $recall < 0.9 (${lsh.size}/${exact.size})")
  }

  test("simhash near-pairs are mostly high-Jaccard pairs") {
    val exact = pairs("q31_dedup_ngram_jaccard")
    val sim = pairs("q33_dedup_simhash")
    assert(sim.nonEmpty)
    val precision = sim.count(exact.contains).toDouble / sim.size
    assert(precision >= 0.5, s"simhash precision $precision < 0.5")
  }

  test("LSH ANN results are a subset of correct cosine ranking with decent recall@10") {
    def neighbors(name: String): Map[Long, Set[Long]] =
      SparkEntry
        .queries(name)(spark, sf)
        .select("probe_id", "neighbor_id")
        .collect()
        .groupBy(_.getLong(0))
        .map { case (p, rs) => p -> rs.map(_.getLong(1)).toSet }
    val exact = neighbors("q35_ann_bruteforce")
    val lsh = neighbors("q36_ann_lsh")
    assert(lsh.nonEmpty, "LSH ANN returned nothing")
    // every LSH neighbor must rank by true cosine within its bucket;
    // recall vs brute force is lossy by design but must be non-trivial.
    val recalls = lsh.map { case (p, ns) => ns.intersect(exact(p)).size.toDouble / exact(p).size }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.2, s"mean recall@10 $mean too low")
  }

  test("LSH-blocked embedding near-dups are a high-recall subset of the exact label-blocked pairs") {
    // the 0.8 floor is the recall LAW at test-scale geometry, not a
    // scale-free promise: R(c) = 1-(1-q^m)^L gives ~0.99 even for
    // borderline c = 0.4 at m = 3 (500 vectors). At corpus-scaled m
    // the borderline bands decay by design while high-cosine bands
    // hold — the banded certification lives in SCALING_r13.json
    // (q34_banded_recall_at_100x) and the law in the
    // embeddingNearDupsLsh Scaladoc.
    import graft.dedup.Dedup
    import graft.sources.Tables
    val exact = Dedup
      .embeddingNearDups(Tables.embeddings(spark, sf), "vec_id", "embedding", "label", 0.4)
      .select("vec_a", "vec_b")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val lsh = SparkEntry
      .queries("q34_dedup_embedding")(spark, sf)
      .select("vec_a", "vec_b")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(lsh.subsetOf(exact), s"LSH blocking emitted non-pairs: ${lsh -- exact}")
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.8, s"blocked recall $recall < 0.8 (${lsh.size}/${exact.size})")
  }

  test("q113: cluster winners equal the naive best-score-first-id window over q55's clusters") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val out = SparkEntry.queries("q113_cluster_winner")(spark, sf).cache()
    val clusters = SparkEntry.queries("q55_dup_clusters")(spark, sf)
    val scored = graft.queries.TrainingQueries
      .qualityModelScores(graft.sources.Tables.documents(spark, sf))
      .select(col("doc_id"), col("score_bp"))
    val w = Window.partitionBy(col("cluster")).orderBy(col("score_bp").desc, col("doc_id").asc)
    val naive = clusters
      .join(scored, "doc_id")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cluster"), col("doc_id").as("e_winner"), col("score_bp").as("e_score"))
    val joined = out.join(naive, Seq("cluster"), "full_outer")
    assert(joined.filter(col("winner_doc").isNull || col("e_winner").isNull).count() == 0)
    assert(joined.filter(col("winner_doc") =!= col("e_winner") || col("winner_score_bp") =!= col("e_score")).count() == 0)
    // every cluster discards all but one member
    assert(out.filter(col("n_discarded") =!= col("n_members") - 1).count() == 0)
    assert(out.filter(col("n_members") < 2).count() == 0, "q55 clusters have >= 2 members by construction")
    out.unpersist()
  }

  test("exact-dedup groups partition the corpus") {
    val df = SparkEntry.queries("q30_dedup_text_exact")(spark, sf)
    val total = df.agg(org.apache.spark.sql.functions.sum("n_copies")).head.getLong(0)
    assert(total == 500L)
  }

  test("q85: incremental dedup pairs cross the batch/index split with valid estimates") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("q85_incremental_dedup")(spark, sf).cache()
    assert(out.count() > 0, "test corpus has cross-set near-dups; none found")
    // every pair crosses the split in the right direction
    assert(out.filter(col("new_doc") % 7 =!= 3).count() == 0, "a non-batch doc on the new side")
    assert(out.filter(col("index_doc") % 7 === 3).count() == 0, "a batch doc on the index side")
    // estimates respect the integer gate and the signature width
    import graft.queries.DedupSimQueries.NumPerms
    assert(out.filter(col("n_match") * 2 < NumPerms || col("n_match") > NumPerms).count() == 0)
    assert(out.filter(col("est_jaccard") < 0.5 || col("est_jaccard") > 1.0).count() == 0)
    out.unpersist()
  }

  test("q81: quantized values saturate at ±127 and stay in int8 range") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("q81_embed_quantize")(spark, sf).cache()
    val n = graft.sources.Tables.embeddings(spark, sf).count()
    assert(out.count() == n, "one quantization row per vector")
    assert(out.filter(col("q_min") < -127 || col("q_max") > 127).count() == 0, "a value left int8 range")
    // the max-abs element maps to exactly ±127 (that is what the scale is)
    val nonZero = out.filter(col("scale") > 0)
    assert(nonZero.filter(col("q_max") =!= 127 && col("q_min") =!= -127).count() == 0, "no saturated element")
    out.unpersist()
  }

  test("q82: kNN ranks are dense, ordered, self-free, and block-respecting") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("q82_knn_join")(spark, sf).cache()
    assert(out.count() > 0)
    assert(out.filter(col("vec_id") === col("neighbor_id")).count() == 0, "a vector is its own neighbor")
    val per = out
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n"), max(col("rank")).as("mx"), min(col("rank")).as("mn"))
    assert(
      per
        .filter(col("n") > graft.queries.DedupSimQueries.KnnK || col("mx") =!= col("n") || col("mn") =!= 1)
        .count() == 0,
      "ranks not dense 1..n<=k"
    )
    // blocking respected: a neighbor always shares the vector's label
    val labels = graft.sources.Tables.embeddings(spark, sf).select(col("vec_id"), col("label"))
    val crossBlock = out
      .join(labels, "vec_id")
      .join(labels.select(col("vec_id").as("neighbor_id"), col("label").as("n_label")), "neighbor_id")
      .filter(col("label") =!= col("n_label"))
      .count()
    assert(crossBlock == 0, s"$crossBlock neighbors cross the label block")
    // rank 1 dominates rank 2 by distance (smaller L2² is nearer)
    val r1 = out.filter(col("rank") === 1).select(col("vec_id"), col("d2").as("d1"))
    val r2 = out.filter(col("rank") === 2).select(col("vec_id"), col("d2").as("dd2"))
    assert(r1.join(r2, "vec_id").filter(col("dd2") < col("d1")).count() == 0)
    // cell-bounded candidates: a neighbor always shares the vector's
    // IVF cell — the corpus-scaled blocking that replaced the
    // constant-geometry LSH buckets (round 10)
    out.unpersist()
  }

  test("q87 equals q85 exactly, and a stale-version index is refused loudly") {
    import graft.dedup.Dedup
    // the bucketed-index path must change the plan, never the answer
    val viaIndex = SparkEntry.queries("q87_bucketed_index_dedup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val direct = SparkEntry.queries("q85_incremental_dedup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(viaIndex == direct, "bucketed index changed the candidate/duplicate set")
    // a signature-format break (r4 advice: the perm reseed changed
    // every signature) must fail at READ time, not corrupt candidates
    import spark.implicits._
    val sigs = Dedup.minhashSignatures(
      Dedup.shingles(Seq((1L, "a b c d e")).toDF("doc_id", "text"), "doc_id", "text", 3), 8)
    Dedup.writeSignatureIndex(sigs, "graft_sig_index_vtest", 8, 4, 2)
    assert(Dedup.readSignatureIndex(spark, "graft_sig_index_vtest").count() > 0)
    spark.sql(s"ALTER TABLE graft_sig_index_vtest SET TBLPROPERTIES ('${Dedup.SigVersionProp}' = '1')")
    val ex = intercept[IllegalArgumentException] {
      Dedup.readSignatureIndex(spark, "graft_sig_index_vtest")
    }
    assert(ex.getMessage.contains("format version"))
    // appending to the stale-version index must refuse too — a batch
    // signed under the current format can never mix into an old index
    val ex2 = intercept[IllegalArgumentException] {
      Dedup.appendSignatureIndex(
        Dedup.minhashSignatures(
          Dedup.shingles(Seq((2L, "x y z w")).toDF("doc_id", "text"), "doc_id", "text", 3), 8),
        "graft_sig_index_vtest", 8, 4)
    }
    assert(ex2.getMessage.contains("format version"))
    spark.sql("DROP TABLE IF EXISTS graft_sig_index_vtest")
  }

  test("daily append to the signature index equals a one-shot build") {
    // build-once-append-forever: index built from batch A, batch B
    // appended after its dedup run. Contents must equal the one-shot
    // build over A ∪ B, the bucket layout must survive the append, and
    // the version stamp must still gate reads.
    import graft.dedup.Dedup
    import graft.queries.DedupSimQueries.{NumPerms, RowsPerBand}
    import org.apache.spark.sql.functions.col
    val docs = graft.sources.Tables.documents(spark, sf)
    val sigs = Dedup.minhashSignatures(Dedup.shingles(docs, "doc_id", "text", 3), NumPerms).localCheckpoint()
    val tbl = "graft_sig_index_append"
    Dedup.writeSignatureIndex(sigs.filter(col("doc_id") % 2 === 0), tbl, NumPerms, RowsPerBand, 4)
    Dedup.appendSignatureIndex(sigs.filter(col("doc_id") % 2 =!= 0), tbl, NumPerms, RowsPerBand)
    def rowSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val appended = rowSet(Dedup.readSignatureIndex(spark, tbl).select("doc_id", "bk"))
    val oneShot = rowSet(Dedup.signatureIndexBands(sigs, NumPerms, RowsPerBand))
    assert(appended == oneShot, "appended index diverges from the one-shot build")
    val meta = spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(tbl))
    assert(meta.bucketSpec.exists(_.numBuckets == 4), "append changed the bucket layout")
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("q89: segment dedup keeps exactly the first occurrence of every distinct segment") {
    import graft.dedup.Dedup
    import graft.queries.DedupSimQueries.SegWords
    import spark.implicits._
    // hand-built corpus: doc 1 is original; doc 2 repeats doc 1's
    // first segment then adds a new one; doc 3 is a full copy of doc 1
    // (every segment lost -> must still be reported, with n_kept = 0)
    val seg1 = (1 to SegWords).map(i => s"a$i").mkString(" ")
    val seg2 = (1 to SegWords).map(i => s"b$i").mkString(" ")
    val seg3 = (1 to 3).map(i => s"c$i").mkString(" ") // short tail segment
    val docs = Seq(
      (1L, s"$seg1 $seg2"),
      (2L, s"$seg1 $seg3"),
      (3L, s"$seg1 $seg2")
    ).toDF("doc_id", "text")
    val out = Dedup
      .segmentDedup(docs, "doc_id", "text", SegWords)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    val md5 = java.security.MessageDigest.getInstance("MD5")
    def hex(s: String) = md5.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(1L) == ((2L, 2L, hex(s"$seg1 $seg2"))), "original doc must keep everything")
    assert(out(2L) == ((2L, 1L, hex(seg3))), "repeated head segment must drop, new tail must survive")
    assert(out(3L) == ((2L, 0L, hex(""))), "full duplicate must report n_kept = 0, not vanish")
    // corpus check at sf: survivors never exceed totals, digests are total
    val corpus = SparkEntry.queries("q89_segment_dedup")(spark, sf).collect()
    assert(corpus.forall(r => r.getLong(2) <= r.getLong(1)), "kept > total segments")
    assert(corpus.forall(r => r.getString(3).length == 32), "digest missing")
  }

  test("q90: every reported pair is a strict prefix containment, and a planted pair is found") {
    import graft.dedup.Dedup
    import graft.queries.DedupSimQueries.{PrefixBlockCap, PrefixBlockChars}
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon zeta eta"),
      (3L, "alpha beta gamma DIFFERENT tail here"),
      (4L, "short") // under the 16-char contract, excluded
    ).toDF("doc_id", "text")
    val got = Dedup
      .prefixContainmentPairs(docs, "doc_id", "text", PrefixBlockChars, PrefixBlockCap)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(got == Set((1L, 2L)), s"expected exactly the planted truncation pair, got $got")
    // corpus: verify the containment property on the real output
    val corpus = SparkEntry.queries("q90_prefix_containment")(spark, sf)
    val texts = graft.sources.Tables
      .documents(spark, sf)
      .select("doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> r.getString(1))
      .toMap
    corpus.collect().foreach { r =>
      val (a, b) = (texts(r.getLong(0)), texts(r.getLong(1)))
      assert(b.startsWith(a) && b.length > a.length, s"pair (${r.getLong(0)}, ${r.getLong(1)}) is not a strict prefix")
    }
  }

  test("q90: blocks hotter than the cap are dropped, so shared boilerplate cannot go quadratic") {
    import graft.dedup.Dedup
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // synthetic crawl shard: every "page" opens with the same 16+ char
    // boilerplate ("<!doctype html> " is exactly 16 chars), far more
    // docs than the cap — plus one real truncation pair in a cold block
    val cap = 5
    val boiler = (1L to 40L).map(i => (i, s"<!doctype html> page body number $i with its own tail"))
    val cold = Seq(
      (100L, "unique opening line alpha beta"),
      (101L, "unique opening line alpha beta gamma delta")
    )
    val docs = (boiler ++ cold).toDF("doc_id", "text")
    val out = Dedup
      .prefixContainmentPairs(docs, "doc_id", "text", 16, cap)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    // the hot block contributes NOTHING (contract); the cold pair survives
    assert(out == Set((100L, 101L)), s"hot-block pairs leaked or cold pair lost: $out")
    // the bound itself: no surviving block exceeds cap docs, so the
    // self-join's per-block fan-out is ≤ cap² by construction
    val survivingMax = docs
      .filter(length(col("text")) >= 16)
      .groupBy(substring(col("text"), 1, 16).as("blk"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") <= cap)
      .agg(max(col("n")))
      .head()
      .getLong(0)
    assert(survivingMax <= cap)
    // at the corpus SF the cap is loose (hottest real block ≤ 2 docs),
    // so the capped operator equals the uncapped definition there: the
    // driver oracle (which mirrors the cap) stays a real containment
    // check, not a vacuous one
    val corpusMax = graft.sources.Tables
      .documents(spark, sf)
      .filter(length(col("text")) >= 16)
      .groupBy(substring(col("text"), 1, 16))
      .agg(count(lit(1)).as("n"))
      .agg(max(col("n")))
      .head()
      .getLong(0)
    assert(corpusMax <= graft.queries.DedupSimQueries.PrefixBlockCap, "test corpus now trips the cap; revisit")
  }

  test("q107: persisted IVF index equals the in-memory path, prunes partitions dynamically, appends cleanly") {
    import graft.queries.DedupSimQueries.{AnnK, IvfCells, IvfIndexPath, IvfNprobe}
    import graft.sim.Similarity
    import org.apache.spark.sql.functions._
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    // the persisted layout must be answer-invisible
    val viaIndex = rows(SparkEntry.queries("q107_ann_ivf_index")(spark, sf))
    val direct = rows(SparkEntry.queries("q50_ann_ivf")(spark, sf))
    assert(viaIndex == direct, "index path diverged from the in-memory IVF")
    // dynamic partition pruning: the probe join must read only the
    // probed cells' directories, not the whole index
    val e = graft.sources.Tables
      .embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
    val cents = Similarity.ivfCentroids(e, IvfCells)
    val probed = Similarity.ivfTopKFromIndex(
      spark, IvfIndexPath, cents, e.filter(col("vec_id") < 5), AnnK, IvfNprobe)
    probed.collect()
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), s"no dynamic partition pruning on the index scan:\n$plan")
    // append under the SAME deterministic centroids ≡ one-shot build
    val path2 = IvfIndexPath + "_append_spec"
    val isDelta = col("vec_id") % 5 === 4 && col("vec_id") >= IvfCells
    Similarity.writeIvfIndex(cents, e.filter(!isDelta), path2)
    Similarity.appendIvfIndex(cents, e.filter(isDelta), path2)
    val appended = rows(
      Similarity.ivfTopKFromIndex(spark, path2, cents, e.filter(col("vec_id") < 5), AnnK, IvfNprobe)
    )
    assert(appended == viaIndex, "append-then-probe diverged from the one-shot index")
  }

  test("q125: persisted IVF+PQ equals the index-free twin, prunes cells dynamically, ranks via the heap") {
    import graft.operators.KMeans
    import graft.queries.DedupSimQueries.{AnnK, Dims, IvfPqCells, IvfPqIndexPath, IvfPqNprobe, IvfPqRerank, PqCodewords, PqSubDim, PqSubspaces}
    import graft.sim.Similarity
    import org.apache.spark.sql.functions._
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // the persisted cell layout must be answer-invisible (this run
    // also builds the index the probes below read)
    val viaIndex = rows(SparkEntry.queries("q125_ivfpq_topk")(spark, sf))
    val q = KMeans.quantizeShifted(graft.sources.Tables.embeddings(spark, sf), "vec_id", "embedding")
    val probes = q.filter(col("vec_id") < 5)
    val direct = rows(
      Similarity.ivfPqTopK(q, probes, IvfPqCells, PqSubspaces, PqSubDim, PqCodewords, IvfPqNprobe, IvfPqRerank, AnnK, Dims)
    )
    assert(viaIndex == direct, "index path diverged from the in-memory IVF+PQ")
    // plan shape: the codes read is DPP-pruned to the probed cells,
    // and the shortlist is the bounded-heap aggregate (no window over
    // the scored corpus — the only WindowExec input is candidate-sized)
    val probed = Similarity.ivfPqTopKFromIndex(
      spark, IvfPqIndexPath, q, probes, IvfPqCells, PqSubspaces, PqSubDim, PqCodewords, IvfPqNprobe, IvfPqRerank, AnnK, Dims)
    probed.collect()
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), s"no dynamic partition pruning on the codes scan:\n$plan")
    assert(plan.contains("graft_topk"), s"ADC shortlist is not the bounded-heap aggregate:\n$plan")
    // the exact re-rank really is exact: every returned distance
    // matches a brute-force integer d2 on the quantized vectors
    val qa = q.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    viaIndex.foreach { case (p, _, n, d) =>
      val brute = qa(p).zip(qa(n)).map { case (a, b) => val x = a - b; x * x }.sum
      assert(d == brute, s"probe $p neighbor $n: exact_d2 $d != brute $brute")
    }
  }

  test("q108: containment estimates are direction-aware for a planted truncation pair") {
    import graft.dedup.Dedup
    import graft.functions.GraftFunctions
    import graft.queries.DedupSimQueries.{NumPerms, RowsPerBand}
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // corpus invariants: estimates stay in sane ranges and the two
    // directions order by size (the smaller set is the more contained)
    val out = SparkEntry.queries("q108_containment_est")(spark, sf).cache()
    assert(out.count() > 0)
    assert(out.filter(col("cont_a_in_b") < 0 || col("cont_b_in_a") < 0).count() == 0, "negative containment")
    out.unpersist()
    // planted truncation: B = A + a long tail. All of A's shingles
    // appear in B, so containment must be near-total A-in-B and
    // visibly partial B-in-A.
    val aText = (1 to 30).map(i => s"w$i").mkString(" ")
    val bText = aText + " " + (1 to 15).map(i => s"x$i").mkString(" ")
    val docs = Seq((1L, aText), (2L, bText)).toDF("doc_id", "text")
    val sh = Dedup.shingles(docs, "doc_id", "text", 3)
    val sigs = Dedup.minhashSignatures(sh, NumPerms)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val cands = Dedup.lshCandidates(sigs, NumPerms, RowsPerBand)
    assert(cands.count() == 1, "the truncation pair must be an LSH candidate")
    val est = cands
      .join(sigs.select(col("doc_id").as("doc_a"), col("mh").as("mh_a")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("mh").as("mh_b")), "doc_b")
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), "doc_b")
      .select(
        (GraftFunctions.sigmatch(col("mh_a"), col("mh_b")).cast("double") / NumPerms).as("j"),
        col("n_a"),
        col("n_b")
      )
      .head()
    val (j, na, nb) = (est.getDouble(0), est.getLong(1), est.getLong(2))
    val inter = j * (na + nb) / (1 + j)
    val (contA, contB) = (inter / na, inter / nb)
    assert(contA > contB, s"direction lost: a-in-b $contA vs b-in-a $contB")
    assert(contA >= 0.8, s"near-total containment underestimated: $contA")
    assert(contB <= 0.85, s"partial containment overestimated: $contB")
  }

  test("q95: edit-distance pairs respect the gate and the relative-distance contract") {
    import graft.queries.DedupSimQueries.{EditDistDenom, EditMinSharedShingles}
    val rows = SparkEntry.queries("q95_editdist_neardup")(spark, sf).collect()
    assert(rows.nonEmpty, "the near-dup corpus must produce edit-distance pairs")
    val texts = graft.sources.Tables
      .documents(spark, sf)
      .select("doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> r.getString(1))
      .toMap
    rows.foreach { r =>
      val (a, b, inter, dist) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(a < b, "pair ordering violated")
      assert(inter >= EditMinSharedShingles, "gate violated")
      val maxLen = math.max(texts(a).length, texts(b).length)
      assert(dist * EditDistDenom <= maxLen, s"distance contract violated for ($a, $b)")
    }
  }

  test("q126: substring coverage is exact on a hand-built corpus, bounded on the real one") {
    import graft.dedup.Dedup
    import spark.implicits._
    val k = 4 // small window so the hand computation stays readable
    // doc 1 and 2 share the 4-token run w1..w4 (one window each);
    // docs 3 and 4 are identical 6-token docs (windows at 1,2,3 merge
    // into one span covering all 6 tokens); doc 5 is clean; doc 6 is
    // too short for any window
    val docs = Seq(
      (1L, "w1 w2 w3 w4 a1 a2"),
      (2L, "b1 w1 w2 w3 w4 b2"),
      (3L, "c1 c2 c3 c4 c5 c6"),
      (4L, "c1 c2 c3 c4 c5 c6"),
      (5L, "d1 d2 d3 d4 d5 d6"),
      (6L, "e1 e2")
    ).toDF("doc_id", "text")
    val out = Dedup
      .substringDupStats(docs, "doc_id", "text", k)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out(1L) == ((6L, 1L, 4L)), "shared head window must cover exactly k tokens")
    assert(out(2L) == ((6L, 1L, 4L)), "shared mid window must cover exactly k tokens")
    assert(out(3L) == ((6L, 3L, 6L)), "overlapping windows must merge into one full-doc span")
    assert(out(4L) == ((6L, 3L, 6L)), "the duplicate twin gets the same span")
    assert(out(5L) == ((6L, 0L, 0L)), "clean doc must report zero")
    assert(out(6L) == ((2L, 0L, 0L)), "short doc must report zero, not vanish")
    // real corpus: coverage is bounded by doc length and below by the
    // single-window floor whenever any window is marked
    import graft.queries.DedupSimQueries.SubstrGramLen
    val corpus = SparkEntry.queries("q126_substring_dedup")(spark, sf).collect()
    assert(corpus.forall(r => r.getLong(3) <= r.getLong(1)), "coverage exceeds doc length")
    assert(
      corpus.forall(r => r.getLong(2) == 0L || r.getLong(3) >= SubstrGramLen),
      "a marked doc must cover at least one full window"
    )
  }

  test("q130: span removal is exact on the hand corpus and reconciles with q126's accounting") {
    import graft.dedup.Dedup
    import spark.implicits._
    val k = 4
    val docs = Seq(
      (1L, "w1 w2 w3 w4 a1 a2"),
      (2L, "b1 w1 w2 w3 w4 b2"),
      (3L, "c1 c2 c3 c4 c5 c6"),
      (4L, "c1 c2 c3 c4 c5 c6"),
      (5L, "d1 d2 d3 d4 d5 d6"),
      (6L, "e1 e2")
    ).toDF("doc_id", "text")
    val out = Dedup
      .substringClean(docs, "doc_id", "text", k)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(out(1L) == ((6L, 2L, "a1 a2")), "head span must be cut, tail preserved in order")
    assert(out(2L) == ((6L, 2L, "b1 b2")), "mid span must be cut, flanks rejoined in order")
    assert(out(3L) == ((6L, 0L, "")), "fully-duplicated doc must come back empty, not vanish")
    assert(out(4L) == ((6L, 0L, "")), "the duplicate twin too")
    assert(out(5L) == ((6L, 6L, "d1 d2 d3 d4 d5 d6")), "clean doc must pass through byte-identical")
    assert(out(6L) == ((2L, 2L, "e1 e2")), "short doc must pass through")
    // cross-operator reconciliation on the real corpus: what q126
    // counts as duplicated is exactly what q130 removed
    val stats = SparkEntry
      .queries("q126_substring_dedup")(spark, sf)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(3))))
      .toMap
    val cleaned = SparkEntry.queries("q130_substring_clean")(spark, sf).collect()
    cleaned.foreach { r =>
      val (id, n, kept) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val (n126, dup) = stats(id)
      assert(n == n126, s"doc $id token-count mismatch between q126 and q130")
      assert(kept == n - dup, s"doc $id: kept $kept != n_tokens $n - dup_tokens $dup")
    }
  }

  test("q128: reported recall equals the driver-side intersection of q35 and q50") {
    def topSets(name: String): Map[Long, Set[Long]] =
      SparkEntry
        .queries(name)(spark, sf)
        .select("probe_id", "neighbor_id")
        .collect()
        .map(r => r.getLong(0) -> r.getLong(1))
        .groupBy(_._1)
        .map { case (p, xs) => p -> xs.map(_._2).toSet }
    val exact = topSets("q35_ann_bruteforce")
    val approx = topSets("q50_ann_ivf")
    val reported = SparkEntry
      .queries("q128_ann_recall")(spark, sf)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(reported.keySet == exact.keySet, "every probe must be scored")
    reported.foreach { case (p, (nExact, nHits)) =>
      assert(nExact == exact(p).size.toLong, s"probe $p n_exact mismatch")
      assert(nHits == (exact(p) & approx.getOrElse(p, Set.empty)).size.toLong, s"probe $p n_hits mismatch")
    }
  }

  test("q133: predictions equal a driver-side vote over within-cell exact-L2 neighbors") {
    import graft.operators.KMeans
    import graft.queries.DedupSimQueries.{Dims, KmeansIters, KmeansK, KnnK, SemClusterTarget}
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val labels = emb.select("vec_id", "label").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val q = KMeans.quantizeShifted(emb, "vec_id", "embedding").localCheckpoint()
    val k = math.max(KmeansK, (q.count() / SemClusterTarget).toInt)
    val qa = q.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    val clusters = KMeans
      .refineTwoLevel(q, k, KmeansIters, Dims)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    def d2(a: Array[Long], b: Array[Long]): Long = (0 until Dims).map { i => val d = a(i) - b(i); d * d }.sum
    val byCluster = clusters.keys.toSeq.groupBy(clusters)
    val expected = clusters.flatMap { case (v, c) =>
      val ns = byCluster(c).filter(_ != v).sortBy(n => (d2(qa(v), qa(n)), n)).take(KnnK)
      if (ns.isEmpty) None
      else {
        val votes = ns.map(labels).groupBy(identity).map { case (l, xs) => l -> xs.size }
        // max count, then smallest label — the declared tie-break
        Some(v -> votes.toSeq.maxBy { case (l, c2) => (c2.toLong, -l.toLong) }._1)
      }
    }
    val out = SparkEntry
      .queries("q133_knn_classify")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), if (r.isNullAt(2)) None else Some(r.getInt(2))))
    assert(out.map(_._1).toSet == labels.keySet, "every vector must be reported")
    out.foreach { case (v, l, p) =>
      assert(l == labels(v), s"vec $v actual label mismatch")
      assert(p == expected.get(v), s"vec $v prediction mismatch: $p vs ${expected.get(v)}")
    }
    assert(expected.nonEmpty, "cells must produce neighbors")
  }

  test("q129: kept flags equal a driver-side SemDeDup recomputation from clusters + quantized vectors") {
    import graft.operators.KMeans
    import graft.queries.DedupSimQueries.{Dims, KmeansIters, KmeansK, SemClusterTarget, SemDedupTauDen, SemDedupTauNum}
    val qdf = KMeans
      .quantizeShifted(graft.sources.Tables.embeddings(spark, sf), "vec_id", "embedding")
      .localCheckpoint()
    val k = math.max(KmeansK, (qdf.count() / SemClusterTarget).toInt)
    val clusters = KMeans
      .refineTwoLevel(qdf, k, KmeansIters, Dims)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    val qa = qdf
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).map(_ - KMeans.Shift).toArray)
      .toMap
    def dot(a: Array[Long], b: Array[Long]): Long = (0 until Dims).map(i => a(i) * b(i)).sum
    val ids = clusters.keys.toSeq.sorted
    // r15 multi-probe drop rule: a pair is compared when it shares ANY
    // probe cell. Probe sets come from the persisted index (whose
    // probe-1 ≡ the legacy assignment and probe-2 is independently
    // verified in CellIndexSpec); the PRUNE arithmetic is recomputed
    // here from first principles.
    val probeSets = graft.queries.DedupSimQueries
      .cellIndexEnsure(spark, sf) // build-if-absent; probe-1 ≡ legacy
      .select(org.apache.spark.sql.functions.col("vec_id"), org.apache.spark.sql.functions.col("cluster"))
      .collect()
      .groupBy((r: Row) => r.getLong(0))
      .map { case (v, rs) => v -> rs.map(_.getLong(1)).toSet }
    val expectedDropped = ids.filter { ib =>
      ids.exists { ia =>
        ia < ib && probeSets(ia).intersect(probeSets(ib)).nonEmpty && {
          val d = dot(qa(ia), qa(ib))
          d > 0 && SemDedupTauDen.toLong * SemDedupTauDen * d * d >=
            SemDedupTauNum.toLong * SemDedupTauNum * dot(qa(ia), qa(ia)) * dot(qa(ib), qa(ib))
        }
      }
    }.toSet
    val out = SparkEntry
      .queries("q129_semantic_dedup")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.map(_._1).toSet == clusters.keySet, "every vector must be labeled")
    out.foreach { case (v, c, kept) =>
      assert(c == clusters(v), s"vec $v cluster mismatch")
      assert(kept == !expectedDropped(v), s"vec $v kept flag mismatch")
    }
    assert(expectedDropped.nonEmpty, "the near-dup corpus must drop at least one vector")
  }

  test("q142: occupancy report accounts for every indexed vector and flags exactly the over-2x clusters") {
    import graft.queries.DedupSimQueries.SemClusterTarget
    val rows = SparkEntry
      .queries("q142_cell_occupancy")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(rows.nonEmpty)
    // completeness: cluster counts sum to the index population (every
    // vector is monitored exactly once)
    val idxSize = graft.operators.CellIndex
      .ensure(
        graft.sources.Tables.embeddings(spark, sf),
        "vec_id", "embedding", Some("label"),
        graft.queries.DedupSimQueries.KmeansK,
        SemClusterTarget,
        graft.queries.DedupSimQueries.KmeansIters,
        graft.queries.DedupSimQueries.Dims,
        graft.queries.DedupSimQueries.cellIndexTable(sf)
      )
      .filter(org.apache.spark.sql.functions.col("probe") === 1) // occupancy = MEMBERSHIP (one row per vector)
      .count()
    assert(rows.map(_._2).sum == idxSize, "occupancy must sum to the index population")
    rows.foreach { case (c, n, bp, over) =>
      assert(bp == n * 10000 / SemClusterTarget, s"cluster $c: occ_bp $bp != ${n * 10000 / SemClusterTarget}")
      assert(over == (n > 2 * SemClusterTarget), s"cluster $c: over_2x_target flag wrong for n=$n")
    }
  }

  test("q138: the composed pipeline routes a planted corpus through every stage") {
    import spark.implicits._
    import graft.dedup.DedupPipeline
    // S is an 8-token boilerplate shared by docs 2 and 3; doc 1 is an
    // exact copy of doc 0; docs 4 and 5 are semantic twins (same
    // embedding direction). Stage routing must be: 1→exact (removed
    // before span counting, so doc 0's grams occur ONCE in the
    // survivor corpus and doc 0 keeps everything), 2→span_empty
    // (fully covered by the shared boilerplate), 5→semantic (later id
    // of the twin pair), 0/3/4→kept.
    val s8 = "aa bb cc dd ee ff gg hh"
    val d0 = "zero one two three four five six seven eight nine"
    val docs = Seq(
      (0L, d0),
      (1L, d0),
      (2L, s8),
      (3L, s8 + " ii jj kk ll"),
      (4L, "m4 n4 o4"),
      (5L, "m5 n5 o5")
    ).toDF("doc_id", "text")
    // orthogonal axis directions except the planted twin pair (4, 5);
    // doc 2 never reaches stage 3 so its vector is irrelevant
    val emb = Seq(
      (0L, Seq(4f, 0f, 0f, 0f)),
      (1L, Seq(1f, 1f, 1f, 1f)),
      (2L, Seq(0f, 0f, 1f, 1f)),
      (3L, Seq(0f, 0f, 4f, 0f)),
      (4L, Seq(0f, 3f, 0f, 0f)),
      (5L, Seq(0f, 4f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val out = DedupPipeline
      .run(docs, "doc_id", "text", emb, "vec_id", "embedding", 8, 2, 100, 1, 4, 2, 5)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), Option(r.get(2)), Option(r.get(3)), Option(r.get(4)))))
      .toMap
    assert(out.keySet == (0L to 5L).toSet, "one disposition per input doc")
    assert(out(1L) == (("exact", None, None, None)), s"doc 1: ${out(1L)}")
    assert(out(2L)._1 == "span_empty" && out(2L)._3 == Some(0L), s"doc 2: ${out(2L)}")
    assert(out(0L) == (("kept", Some(10L), Some(10L), out(0L)._4)), s"doc 0: ${out(0L)}")
    assert(out(3L)._1 == "kept" && out(3L)._2 == Some(12L) && out(3L)._3 == Some(4L), s"doc 3: ${out(3L)}")
    assert(out(4L)._1 == "kept" && out(4L)._3 == Some(3L), s"doc 4: ${out(4L)}")
    assert(out(5L)._1 == "semantic", s"doc 5: ${out(5L)}")
    // the twins must share a cluster — the prune is within-cluster
    assert(out(4L)._4.isDefined && out(4L)._4 == out(5L)._4, "semantic twins must share a cluster")
  }

  test("in-row shingle sets equal the old explode-then-distinct formulation, with a zero-exchange plan") {
    // r17: Dedup.shingles dedupes per-doc IN-ROW (graft_shingleset) and
    // explodes after — this pins (a) exact set parity with the pre-r17
    // corpus-wide-distinct formulation over the real corpus PLUS the
    // adversarial edges, and (b) that the new plan has no shuffle at all.
    import graft.dedup.Dedup
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val edge = Seq(
      (9001L, "a b a b a b a b"), // heavy intra-doc repetition
      (9002L, "x y"), // shorter than n → one whole-doc shingle
      (9003L, ""), // empty
      (9004L, "   "), // whitespace-only
      (9005L, null.asInstanceOf[String]), // null text
      (9006L, "héllo wörld ünïcode 𝒳𝒴"), // non-BMP code points
      (9007L, "solo"),
      (9008L, "t t t") // n-gram equal to a repeated unigram context
    ).toDF("doc_id", "text")
    val docs = graft.sources.Tables.documents(spark, sf).select("doc_id", "text").unionByName(edge)
    for (n <- Seq(3, 5)) {
      val neu = Dedup
        .shingles(docs, "doc_id", "text", n)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val old = Dedup
        .shingleRows(docs, "doc_id", "text", n)
        .distinct()
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .toSet
      assert(neu.length == neu.toSet.size, s"n=$n: in-row set emitted duplicate (doc, shingle) rows")
      assert(neu.toSet == old, s"n=$n: in-row shingle set diverges from explode-then-distinct")
    }
    // the per-doc arrays are sorted ascending (the dedupe contract)
    val arrs = Dedup.shingleSets(edge, "doc_id", "text", 3).collect()
    arrs.foreach { r =>
      val a = r.getSeq[Long](1)
      assert(a == a.sorted && a.distinct == a, s"doc ${r.getLong(0)}: array not sorted-distinct: $a")
    }
    // plan shape: scan → project → explode, NO exchange anywhere
    val plan = Dedup.shingles(graft.sources.Tables.documents(spark, sf), "doc_id", "text", 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"shingles plan gained a shuffle:\n$plan")
  }

  test("keyClustered width is scale-aware: base for small frames, continuous past the floor, stats surviving checkpoint") {
    // r18 (VERDICT #4 + the q138 2048x stage attribution): the fixed
    // 16x width was scale-blind both ways — 512 near-empty tasks per
    // clustered aggregate at sf0.1 (~2x on the q32 family) AND
    // per-task aggregate state outgrowing the execution pool at the
    // fifth decade (187 of 305 GB mem-spill attributed to the two
    // clustered aggregates at width 512). Contracts:
    //  (a) a small real frame (the sf0.001 shingle projection) gets the
    //      BASE width — the driver-gate cost recovery;
    //  (b) past the floor the width is CONTINUOUS in the estimate
    //      (est / 128 KB, clamped to [base, 128x base]) — keys/task
    //      stays ~constant as the corpus grows;
    //  (c) the estimate SURVIVES checkpointHeavy (SPARK-39748 keeps the
    //      origin stats on the checkpoint's LogicalRDD) — q32's
    //      signature aggregate reads the CHECKPOINTED shingle frame,
    //      and a lost estimate would silently re-widen small frames
    //      (LogicalRDD's fallback stat is defaultSizeInBytes = huge).
    val base = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // Expectations derive from each frame's ACTUAL Catalyst estimate
    // plus the documented clamp formula (r18 ADVICE: literal 128/512
    // expectations encoded Range's 8 B/row stat and an assumed base,
    // so a Spark stats change would break the spec without a width
    // behavior change). The formula here is the CONTRACT under test.
    def expectedWidth(est: BigInt): Int =
      if (est < BigInt(4L * 1024 * 1024)) base
      else (est / (128L * 1024)).min(128L * base).max(base).toInt
    def estOf(df: org.apache.spark.sql.DataFrame): BigInt =
      df.queryExecution.optimizedPlan.stats.sizeInBytes
    val small = graft.dedup.Dedup.shingles(graft.sources.Tables.documents(spark, sf), "doc_id", "text", 3)
      .select("shingle")
    assert(estOf(small) < BigInt(4L * 1024 * 1024), "precondition: the sf0.001 shingle frame must be under the floor")
    assert(graft.dedup.Dedup.clusterWidth(small) == base, "small frame must keep the base width")
    val mid = spark.range(2L * 1024 * 1024).toDF("id")
    assert(estOf(mid) >= BigInt(4L * 1024 * 1024), "precondition: mid frame must exceed the floor")
    assert(estOf(mid) / (128L * 1024) < BigInt(128L * base), "precondition: mid frame must be below the cap")
    assert(
      graft.dedup.Dedup.clusterWidth(mid) == expectedWidth(estOf(mid)),
      s"mid frame (est ${estOf(mid)}) must cluster at est/128KB"
    )
    val big = spark.range(8L * 1024 * 1024).toDF("id")
    assert(graft.dedup.Dedup.clusterWidth(big) == expectedWidth(estOf(big)),
      s"big frame (est ${estOf(big)}) must follow the clamp formula")
    // cap path, metadata-only (clusterWidth never executes the frame):
    // a frame whose est/128KB exceeds 128x base must clamp to the cap
    val huge = spark.range(1024L * 1024 * 1024 / 8 * base).toDF("id")
    assert(estOf(huge) / (128L * 1024) > BigInt(128L * base), "precondition: huge frame must exceed the cap")
    assert(graft.dedup.Dedup.clusterWidth(huge) == 128 * base, "width must clamp at 128x base")
    val ckpt = graft.dedup.Dedup.checkpointHeavy(big)
    try assert(
      graft.dedup.Dedup.clusterWidth(ckpt) == expectedWidth(estOf(big)),
      s"checkpoint lost the size estimate (got ${estOf(ckpt)})"
    ) finally ckpt.unpersist()
    val ckptSmall = graft.dedup.Dedup.checkpointHeavy(small)
    try assert(
      graft.dedup.Dedup.clusterWidth(ckptSmall) == base,
      s"checkpointed small frame re-widened (estimate ${estOf(ckptSmall)})"
    ) finally ckptSmall.unpersist()
    // Degraded-estimate guard (r19): a non-distinct-key self-join takes
    // the stats visitor's MULTIPLY path — two ~2 MB ranges report a
    // multi-TB product — and an unguarded width would peg a 4 MB-of-
    // leaves frame at the 128x cap. The guard bounds the estimate at
    // 64x the leaf-scan sum, so the width must equal the formula on
    // the BOUNDED estimate, strictly under the raw-estimate width.
    import org.apache.spark.sql.functions.col
    val l = spark.range(256L * 1024).toDF("id").withColumn("k", col("id") % 100)
    val r = spark.range(256L * 1024).toDF("id2").withColumn("k", col("id2") % 100)
    val degraded = l.join(r, "k")
    val rawEst = estOf(degraded)
    val leafSum = degraded.queryExecution.optimizedPlan.collectLeaves().map(_.stats.sizeInBytes).sum
    assert(rawEst > leafSum * 64, s"precondition: join stats must be on the multiply path (raw $rawEst, leaves $leafSum)")
    assert(
      graft.dedup.Dedup.clusterWidth(degraded) == expectedWidth(leafSum * 64),
      s"degraded estimate (raw $rawEst vs $leafSum of leaves) must be bounded to leafSum x 64"
    )
  }

  test("spreadScanTo: width override engages on a narrow scan, default width at 0, identity off the gate") {
    // r20 (the r19 light-minhash follow-up): signature-only consumers
    // spread their single-row-group scan at cores/4 instead of the
    // full session width — bracket-measured −1.6 s over
    // q66/q85/q87/q108 vs both the full width and no spread
    // (tools/r20/aba_sig_*.json). Contracts: a positive width is used
    // verbatim when the gate engages; width 0 falls back to
    // max(cores, clusterWidth); a frame with no input files (the gate
    // can't price it) is returned UNTOUCHED, so checkpointed/derived
    // frames never gain an exchange.
    import org.apache.spark.sql.functions.col
    val docs = graft.sources.Tables.documents(spark, sf)
    val cores = spark.sparkContext.defaultParallelism
    assert(docs.inputFiles.length < cores, "precondition: the sf0.001 corpus must be a sub-parallelism scan")
    val narrow = graft.dedup.Dedup.spreadScanTo(docs, 8, col("doc_id"))
    assert(narrow.rdd.getNumPartitions == 8, "explicit width must be used verbatim")
    val dflt = graft.dedup.Dedup.spreadScanTo(docs, 0, col("doc_id"))
    assert(
      dflt.rdd.getNumPartitions == math.max(cores, graft.dedup.Dedup.clusterWidth(docs)),
      "width 0 must keep the session-default spread"
    )
    val noFiles = docs.select(col("doc_id")).localCheckpoint()
    try assert(
      graft.dedup.Dedup.spreadScanTo(noFiles, 8, col("doc_id")) eq noFiles,
      "a fileless frame must pass through untouched"
    ) finally noFiles.unpersist()
  }

  test("spreadWidth: a positive width never narrows a scan that is already at least that wide") {
    import graft.dedup.Dedup.spreadWidth
    // r20 ADVICE #2: 10 splits at width 8 on 32 cores used to be
    // coalesced to 8 behind a shuffle — the scan must stay as it is
    assert(spreadWidth(splits = 10, cores = 32, width = 8, fullWidth = 64).isEmpty)
    assert(spreadWidth(splits = 1, cores = 32, width = 8, fullWidth = 64).contains(8))
    // width ≤ 0 keeps the full default width; a scan that feeds every
    // core is never touched
    assert(spreadWidth(splits = 10, cores = 32, width = 0, fullWidth = 64).contains(64))
    assert(spreadWidth(splits = 32, cores = 32, width = 8, fullWidth = 64).isEmpty)
  }
}
