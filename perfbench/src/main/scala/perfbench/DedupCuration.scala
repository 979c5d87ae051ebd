package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.queries.TextQueries

/** `dedup_curation`: the heavy-tail dedup gates over the engine's sf0.01
  * testdata documents passed through ScaleGen, the seed choosing the
  * letter permutation of the text. One cycle builds the minhash signature
  * store (the workload's one-shot write, five times) and then runs the six
  * gates in a fixed order through `SparkEntry.queries`, each written out as
  * the correctness dump does; cycles repeat until the run's seconds are used.
  * Traced runs also probe the ANN layers on the scaled testdata embeddings
  * (see [[AnnRetrieval.probeAnn]]), so every layer is measured on a
  * workload of the benchmark's list. */
object DedupCuration extends Workload {
  val name = "dedup_curation"
  val Gates = Seq("x13_edit_distance", "x11_cross_dedup", "x8_dup_clusters_star",
    "x10_cluster_keep_best", "x14_store_merge_dedup", "cur5_curation_chain")
  /** cur5's oracle SQL computes its duplicate clusters with a recursive
    * transitive closure, which DuckDB runs in minutes (168 s on the sf0.01
    * documents in the repository's correctness record); checks.py runs the
    * same SQL with that closure computed as connected components. */
  val ComponentsGate = "cur5_curation_chain"
  /** Signature-store builds per cycle; `load_s` is their median. */
  val StoreBuilds = 5
  val Factor = 1
  /** The warm-up runs on the documents whose doc_id is a multiple of this. */
  val WarmShare = 8

  private var corpus: String = _
  private var docs = 0L

  override def scaleInputs(run: Run, traced: Boolean): Unit = {
    Gen.scale(run.data, s"${run.work}/dedup/scaled", Factor, "documents")
    if (traced) AnnRetrieval.scaleInputs(run, traced)
  }

  def generate(run: Run, traced: Boolean): Unit = {
    corpus = s"${run.work}/dedup/corpus"
    Gen.seedCorpus(run.spark, s"${run.work}/dedup/scaled", corpus, run.seed,
      Seq("documents"))
    docs = run.spark.read.parquet(s"$corpus/documents.parquet").count()
    run.spark.read.parquet(s"$corpus/documents.parquet").filter(col("doc_id") % WarmShare === 0)
      .write.mode("overwrite").parquet(s"${run.work}/dedup/warm/documents.parquet")
    run.inputs("documents") = s"$docs (sf0.01 testdata documents x ScaleGen factor $Factor)"
    run.inputs("documents_bytes") = Gen.dirBytes(new java.io.File(corpus)).toString
    if (traced) AnnRetrieval.generate(run, traced)
  }

  /** Warm-up: one store build and every gate, written as in the timed
    * cycle, all at once, on every `WarmShare`-th document (the warm-up has
    * to compile every code path, not repeat the work), alongside
    * the hash-import tables the oracle SQL reads (an input of the checks). */
  def warmup(run: Run): Unit = {
    val spark = run.spark
    val warm = s"${run.work}/dedup/warm"
    Main.inParallel((() => writeAux(run)) +: (() => storeBuild(spark, warm, s"$warm/_store")) +:
      Gates.map(g => () => graft.SparkEntry.queries(g)(spark, warm).coalesce(1)
        .write.mode("overwrite").parquet(s"$warm/out/$g")))
  }

  /** x11, the cheapest gate, written to a scratch directory. */
  def overheadProbe(run: Run): Unit =
    graft.SparkEntry.queries("x11_cross_dedup")(run.spark, corpus).coalesce(1)
      .write.mode("overwrite").parquet(s"${run.work}/dedup/overhead")

  private def storeBuild(spark: org.apache.spark.sql.SparkSession, docsDir: String,
                         dir: String): Unit =
    Dedup.signatureStore(spark.read.parquet(s"$docsDir/documents.parquet")
      .select(col("doc_id"), col("text")), "doc_id", "text")
      .write.mode("overwrite").parquet(dir)

  def measure(run: Run): Unit = {
    val start = System.nanoTime()
    do runCycle(run) while (!run.deadlinePassed(start))
  }

  private def runCycle(run: Run): Unit = {
    val spark = run.spark
    run.cycles += 1
    val cycle = run.cycles
    val out = s"${run.work}/dedup/out_$cycle"
    for (i <- 1 to StoreBuilds) {
      val (_, storeS) = run.step("dedup.signature_store", "operators") {
        storeBuild(spark, corpus, s"$out/_store_$i")
      }
      run.loads += storeS
    }
    Gates.foreach { g =>
      val fn = graft.SparkEntry.queries(g)
      val (ok, s) = run.step(s"queries.$g", "queries") {
        try {
          val (df, buildS) = run.step(s"queries.build.$g", "queries") { fn(spark, corpus) }
          val (_, actionS) = run.step(s"queries.action.$g", "queries") {
            df.coalesce(1).write.mode("overwrite").parquet(s"$out/$g")
          }
          run.layer("queries.build_s", buildS)
          run.layer("queries.action_s", actionS)
          true
        } catch {
          case e: Exception =>
            run.check(s"$g runs", ok = false, String.valueOf(e.getMessage).take(300))
            false
        }
      }
      run.ops += Op(g, s, docs, ok)
      if (ok) {
        import Json._
        run.pyChecks += obj("kind" -> str("oracle"), "label" -> str(s"cycle $cycle $g"),
          "dir" -> str(s"$out/$g"), "tables_dir" -> str(corpus),
          "aux_dir" -> str(s"${run.work}/dedup/aux"),
          "sql" -> str(graft.SparkEntry.oracleSql(g)),
          "components" -> (if (g == ComponentsGate) "true" else "false"))
      }
    }
  }

  /** The hash-import tables the gates' oracle SQL reads (xxhash64 has no
    * DuckDB twin). */
  private def writeAux(run: Run): Unit =
    Gates.map(graft.SparkEntry.oracleSql).flatMap { sql =>
      "__AUX__/([a-z0-9_]+)/".r.findAllMatchIn(sql).map(_.group(1))
    }.toSet.foreach { (t: String) =>
      graft.queries.OracleAux.tables(t)(run.spark, corpus)
        .write.mode("overwrite").parquet(s"${run.work}/dedup/aux/$t")
    }

  def probeLayers(run: Run): Unit = {
    import graft.functions.TextAnalysis
    val spark = run.spark
    def act(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val near = TextQueries.nearDupCorpus(spark, corpus)
    run.step("operators.dedup.signatures", "operators", "operators.dedup.signatures_s") {
      act(Dedup.signatureStore(near, "doc_id", "text"))
    }
    val (pairs, _) = run.step("operators.dedup.pairs", "operators", "operators.dedup.pairs_s") {
      val p = Dedup.minhashLshPairsShared(near, "doc_id", "text", threshold = 0.6,
        maxBucketSize = 64).localCheckpoint()
      run.layer("operators.dedup.pairs_out", p.count().toDouble)
      p
    }
    run.step("operators.dedup.edit_pairs", "operators", "operators.dedup.edit_pairs_s") {
      act(Dedup.editDistancePairs(near, "doc_id", "text", maxDist = 24, maxBucketSize = 64))
    }
    run.step("operators.dedup.components", "operators", "operators.dedup.components_s") {
      act(Dedup.components(pairs, "id_a", "id_b"))
    }
    run.step("functions.text", "functions", "functions.text_s") {
      act(spark.read.parquet(s"$corpus/documents.parquet").select(
        TextAnalysis.cleanText(col("text")), TextAnalysis.qualityScore(col("text")),
        TextAnalysis.tokenCount(col("text"))))
    }
    AnnRetrieval.probeAnn(run)
  }
}
