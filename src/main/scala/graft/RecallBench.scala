package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-round recall artifact for the realistic approximate-search gates
  * (round-12 verdict #1: no artifact recorded MEASURED recall, so a
  * silent drop would pass the loose asserts unseen).
  *
  * For each registered E38 gate (q_ann_lsh, q_ann_ivf, q_pq_topk,
  * q_ivfpq_topk) this main drives the EXACT [[SparkEntry.queries]] path
  * and prints one JSON line with recall@10 against brute force AND the
  * measured candidate fraction (pairs actually scored / pairs a brute
  * force would score) — recall without its cost is not a statement
  * about an ANN method. Parameterizations come from the SAME named
  * constants the registrations use ([[graft.queries.DedupQueries]] /
  * [[graft.queries.PipelineQueries]]), so this artifact cannot drift
  * from the gates.
  *
  * It also prints the corpus NEIGHBOR-STRUCTURE line: mean/p99 of the
  * probe-to-corpus cosine bulk vs the mean true top-1/top-10 cosine.
  * On the driver's synthetic embeddings these show isotropic noise
  * (true neighbors barely above the bulk tail), which caps any
  * sublinear-candidate method near recall ≈ enrichment × fraction —
  * the measured data ceiling the round-12 verdict asked for.
  *
  * SPARK_GRAFT_RECALL_SWEEP=1 additionally sweeps the cost knob of
  * each family (tables/bits, nprobe, PQ codebook size) so the
  * recall-vs-fraction curve of THIS corpus is on record — the evidence
  * behind the registered operating points. */
object RecallBench {
  private def topkSet(df: DataFrame): Map[Long, Set[Long]] =
    df.select(df.columns(0), df.columns(1)).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

  private def recallOf(approx: Map[Long, Set[Long]],
      exact: Map[Long, Set[Long]]): Double =
    exact.map { case (p, truth) =>
      (truth & approx.getOrElse(p, Set.empty)).size.toDouble / truth.size
    }.sum / exact.size

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    val sweep = sys.env.get("SPARK_GRAFT_RECALL_SWEEP").contains("1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.api.Engine.session(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    import graft.operators.{AnnSearch, IvfPq, Pq}
    import graft.queries.{DedupQueries => DQ, PipelineQueries => PQ}

    val emb = graft.sources.Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").cache()
    val n = emb.count()
    val probes = emb.filter(col("vec_id") < 5).cache()
    val nProbes = probes.count()
    val bfPairs = (nProbes * (n - 1)).toDouble

    // ground truth + neighbor structure in one brute-force pass
    val bf = AnnSearch.bruteForceTopK(emb, probes, 10).cache()
    val exactCos = topkSet(bf)
    val structure = bf.agg(
      avg(when(col("rank") === 1, col("cos"))).as("top1"),
      avg(col("cos")).as("top10")).collect().head
    val allCos = emb.select(col("vec_id").as("cand_id"),
        col("embedding").as("cvec"))
      .join(broadcast(probes.select(col("vec_id").as("probe_id"),
        col("embedding").as("pvec"))), col("probe_id") =!= col("cand_id"))
      .select(graft.functions.GraftFunctions
        .cosineSim(col("pvec"), col("cvec")).as("cos"))
      .agg(avg("cos").as("mean"),
        expr("percentile(cos, 0.99)").as("p99")).collect().head
    println(f"""{"structure":{"n":$n,"mean_cos":${allCos.getDouble(0)}%.4f,"p99_cos":${allCos.getDouble(1)}%.4f,"top1_mean":${structure.getDouble(0)}%.4f,"top10_mean":${structure.getDouble(1)}%.4f}}""")

    val exactL2 = {
      val w = Window.partitionBy("probe_id")
        .orderBy(col("l2").asc, col("cand_id"))
      topkSet(emb.select(col("vec_id").as("cand_id"),
          col("embedding").as("cvec"))
        .join(broadcast(probes.select(col("vec_id").as("probe_id"),
          col("embedding").as("pvec"))),
          col("probe_id") =!= col("cand_id"))
        .select(col("probe_id"), col("cand_id"),
          graft.functions.GraftFunctions.vecL2(col("pvec"), col("cvec"))
            .as("l2"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10))
    }

    def report(gate: String, exact: Map[Long, Set[Long]],
        scoredPairs: => Long, params: String): Unit = {
      val r = recallOf(
        topkSet(SparkEntry.queries(gate)(spark, sfDir)), exact)
      val frac = scoredPairs / bfPairs
      println(f"""{"gate":"$gate","recall10":$r%.4f,"cand_frac":$frac%.4f,"params":"$params"}""")
    }

    report("q_ann_lsh", exactCos,
      AnnSearch.lshTopK(emb, probes, k = Int.MaxValue,
        tables = DQ.AnnLshTables, bits = DQ.AnnLshBits).count(),
      s"tables=${DQ.AnnLshTables},bits=${DQ.AnnLshBits}")
    report("q_ann_ivf", exactCos,
      AnnSearch.ivfTopK(emb, probes, k = Int.MaxValue,
        lists = DQ.AnnIvfLists, nprobe = DQ.AnnIvfNprobe).count(),
      s"lists=${DQ.AnnIvfLists},nprobe=${DQ.AnnIvfNprobe}")
    // PQ scans every code row by construction: fraction is 1.0 and the
    // recall gap is pure quantization error
    report("q_pq_topk", exactL2, bfPairs.toLong,
      s"m=${PQ.PqM},k=${PQ.PqKCodes},full-scan")
    report("q_ivfpq_topk", exactL2,
      IvfPq.search(PQ.ivfPqIndex(spark, sfDir), probes,
        k = Int.MaxValue, nprobe = PQ.IvfPqNprobe, m = PQ.PqM,
        kCodes = PQ.PqKCodes).count(),
      s"lists=${PQ.IvfPqLists},nprobe=${PQ.IvfPqNprobe},m=${PQ.PqM},k=${PQ.PqKCodes}")

    // appended-index recall (r14 verdict #4): the day-1-built index
    // with the last third appended frozen, vs the SAME exact truth as
    // the full build above — their recall gap IS the decay of
    // append-without-retraining, re-measured per round; the drift line
    // is the registered retrain trigger's input (IvfPq.centroidDrift;
    // policy in PERF.md §ANN append)
    {
      val cut = emb.agg(max(col("vec_id")).cast("long")).head()
        .getLong(0) * 2 / 3 + 1
      val grown = IvfPq.append(
        PQ.day1IvfPqIndex(spark, sfDir, cut),
        emb.filter(col("vec_id") >= cut), m = PQ.PqM, k = PQ.PqKCodes)
      report("q_ann_append", exactL2,
        IvfPq.search(grown, probes, k = Int.MaxValue,
          nprobe = PQ.IvfPqNprobe, m = PQ.PqM,
          kCodes = PQ.PqKCodes).count(),
        s"day1<$cut,appended=${emb.filter(col("vec_id") >= cut).count()}," +
          s"lists=${PQ.IvfPqLists},nprobe=${PQ.IvfPqNprobe}")
      val drift = IvfPq.centroidDrift(grown, emb).agg(
        min(col("drift_cos")).as("min"),
        (sum(col("drift_cos") * col("n_assigned")) /
          sum(col("n_assigned"))).as("wmean")).collect().head
      val appended = emb.filter(col("vec_id") >= cut).count()
      println(f"""{"drift":{"gate":"q_ann_append","min_cos":${drift.getDouble(0)}%.4f,"wmean_cos":${drift.getDouble(1)}%.4f,"appended_frac":${appended.toDouble / n}%.4f,"retrain":${drift.getDouble(1) < 0.90 || appended.toDouble / n > 0.5}}}""")
    }

    // retrain closes the maintenance loop (r16 verdict #4): the alien
    // batch fires the registered trigger; this block measures the
    // CONSEQUENCE — recall@10 on the grown index vs the rebuilt-on-
    // union index, for corpus probes AND alien probes (the vectors a
    // stale codebook hurts most: their residuals are encoded against a
    // centroid ~100 units away), plus the append-vs-retrain cost ratio
    // that justifies append-by-default/retrain-on-trigger
    {
      val alien = PQ.alienBatch(spark, sfDir).cache()
      val union = emb.unionByName(alien).cache()
      val nU = union.count()
      // alienBatch is pure id arithmetic (vec_id starts at mx+1), so
      // the 5 alien probe ids are closed-form — a bare limit(5) here
      // is not contractually deterministic across separate plan
      // executions, and the recall split below must name exactly the
      // probes that were searched (r16 advice)
      val mxCorpus = emb.agg(max(col("vec_id")).cast("long"))
        .head().getLong(0)
      val alienIds = (mxCorpus + 1 to mxCorpus + 5).toSet
      val probesU = union.filter(col("vec_id") < 5)
        .unionByName(alien.filter(col("vec_id") <= mxCorpus + 5)).cache()
      val exactL2U = {
        val w = Window.partitionBy("probe_id")
          .orderBy(col("l2").asc, col("cand_id"))
        topkSet(union.select(col("vec_id").as("cand_id"),
            col("embedding").as("cvec"))
          .join(broadcast(probesU.select(col("vec_id").as("probe_id"),
            col("embedding").as("pvec"))),
            col("probe_id") =!= col("cand_id"))
          .select(col("probe_id"), col("cand_id"),
            graft.functions.GraftFunctions.vecL2(col("pvec"), col("cvec"))
              .as("l2"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 10))
      }
      def topkOf(ix: graft.operators.IvfPq.Index): Map[Long, Set[Long]] =
        topkSet(graft.operators.AnnSearch.refineTopK(
          IvfPq.search(ix, probesU, k = PQ.PqRefine,
            nprobe = PQ.IvfPqNprobe, m = PQ.PqM, kCodes = PQ.PqKCodes),
          union, probesU, k = 10, metric = "l2"))
      def split(m: Map[Long, Set[Long]]) = (
        recallOf(m.view.filterKeys(!alienIds(_)).toMap,
          exactL2U.view.filterKeys(!alienIds(_)).toMap),
        recallOf(m.view.filterKeys(alienIds).toMap,
          exactL2U.view.filterKeys(alienIds).toMap))
      val t0 = System.nanoTime
      val grown = IvfPq.append(PQ.ivfPqIndex(spark, sfDir), alien,
        m = PQ.PqM, k = PQ.PqKCodes)
      grown.codes.count()
      val tAppend = (System.nanoTime - t0) / 1e9
      val (gCorpus, gAlien) = split(topkOf(grown))
      val t1 = System.nanoTime
      val retrained = IvfPq.build(union.repartition(col("vec_id")),
        lists = PQ.IvfPqLists, m = PQ.PqM, k = PQ.PqKCodes)
      retrained.codes.count()
      val tRetrain = (System.nanoTime - t1) / 1e9
      val (rCorpus, rAlien) = split(topkOf(retrained))
      println(f"""{"retrain":{"gate":"q_ann_retrain","alien_frac":${(nU - n).toDouble / nU}%.4f,"appended_corpus_recall10":$gCorpus%.4f,"appended_alien_recall10":$gAlien%.4f,"retrained_corpus_recall10":$rCorpus%.4f,"retrained_alien_recall10":$rAlien%.4f,"append_sec":$tAppend%.2f,"retrain_sec":$tRetrain%.2f,"retrain_over_append":${tRetrain / math.max(tAppend, 1e-9)}%.1f}}""")
      alien.unpersist(); union.unpersist(); probesU.unpersist()
    }

    if (sweep) {
      for (tables <- Seq(8, 16, 32); bits <- Seq(4, 6, 8)) {
        val got = AnnSearch.lshTopK(emb, probes, k = Int.MaxValue,
          tables = tables, bits = bits).cache()
        val r = recallOf(topkSet(got.filter(col("rank") <= 10)), exactCos)
        println(f"""{"sweep":"lsh","tables":$tables,"bits":$bits,"recall10":$r%.4f,"cand_frac":${got.count() / bfPairs}%.4f}""")
        got.unpersist()
      }
      for (nprobe <- Seq(2, 4, 8, 12, 16, 20)) {
        val got = AnnSearch.ivfTopK(emb, probes, k = Int.MaxValue,
          lists = DQ.AnnIvfLists, nprobe = nprobe).cache()
        val r = recallOf(topkSet(got.filter(col("rank") <= 10)), exactCos)
        println(f"""{"sweep":"ivf","lists":${DQ.AnnIvfLists},"nprobe":$nprobe,"recall10":$r%.4f,"cand_frac":${got.count() / bfPairs}%.4f}""")
        got.unpersist()
      }
      for (kCodes <- Seq(16, 64, 256)) {
        val books = Pq.trainCodebooks(emb.repartition(col("vec_id")),
          "vec_id", "embedding", m = PQ.PqM, k = kCodes)
        val codes = Pq.encode(emb, "embedding", books, m = PQ.PqM,
          k = kCodes).select("vec_id", "pq_codes")
        val r = recallOf(topkSet(Pq.adcTopK(codes, books, probes,
          k = 10, m = PQ.PqM, kCodes = kCodes)), exactL2)
        println(f"""{"sweep":"pq","m":${PQ.PqM},"k":$kCodes,"recall10":$r%.4f,"cand_frac":1.0}""")
      }
      for (nprobe <- Seq(2, 4, 8, 16, 32)) {
        val got = IvfPq.search(PQ.ivfPqIndex(spark, sfDir), probes,
          k = Int.MaxValue, nprobe = nprobe, m = PQ.PqM,
          kCodes = PQ.PqKCodes).cache()
        val r = recallOf(topkSet(got.filter(col("rank") <= 10)), exactL2)
        println(f"""{"sweep":"ivfpq","lists":${PQ.IvfPqLists},"nprobe":$nprobe,"recall10":$r%.4f,"cand_frac":${got.count() / bfPairs}%.4f}""")
        got.unpersist()
      }
    }
    spark.stop()
  }
}
