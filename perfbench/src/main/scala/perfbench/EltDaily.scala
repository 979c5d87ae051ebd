package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.pipeline.{Pipeline, VcPipeline}

/** `elt_daily`: the paper's own traffic. A cycle is one full-overwrite
  * `VcPipeline.run` over the history, then `Days` new incremental
  * `appendMode` days (the samples of the day percentiles), one replayed
  * day and one empty day (timed and checked, but not samples); cycles
  * repeat until the run's seconds are used. */
object EltDaily extends Workload {
  val name = "elt_daily"
  val Days = 2
  val DimKeys = Seq("dim_company" -> "sk_company_id", "dim_funds" -> "sk_fund_id",
    "dim_people" -> "sk_people_id")
  val Tables = Seq("dim_company", "dim_funds", "dim_people", "fct_investments",
    "fct_ipos", "fct_acquisition", "bridge_company_people", "milestones")

  private var facts: Gen.EltFacts = _

  def generate(run: Run, traced: Boolean): Unit = {
    facts = Gen.elt(run.spark, s"${run.work}/elt", run.seed, Days)
    run.inputs("staging_rows_history") = facts.histRows.toString
    run.inputs("staging_rows_per_day") = facts.dayRows.take(Days).mkString(",")
    run.inputs("staging_bytes_history") = facts.inputBytes.toString
    run.inputs("cycle") = s"full load + $Days new day(s) + 1 replayed + 1 empty"
  }

  /** Warm-up: one full load into a scratch warehouse. (Running an append
    * day alongside it made set-up ~5 s longer without speeding up the
    * timed days.) */
  def warmup(run: Run): Unit =
    VcPipeline.run(run.spark, VcPipeline.Config(facts.histDir, s"${run.work}/elt/warehouse_warmup"))

  /** The empty day again on the last cycle's warehouse: idempotent. */
  def overheadProbe(run: Run): Unit =
    VcPipeline.run(run.spark, VcPipeline.Config(facts.stagingDir,
      s"${run.work}/elt/warehouse_${run.cycles}", incrementalDs = Some(Gen.dayDs(Days)), appendMode = true))

  def measure(run: Run): Unit = {
    val start = System.nanoTime()
    do runCycle(run) while (!run.deadlinePassed(start))
  }

  /** One cycle into a fresh warehouse directory; every pipeline call is
    * checked for stage errors and snapshotted for the row checks. */
  private def runCycle(run: Run): Unit = {
    val spark = run.spark
    run.cycles += 1
    val cycle = run.cycles
    val out = s"${run.work}/elt/warehouse_$cycle"
    def pipeline(label: String, day: Option[Int], sample: Boolean = true): Unit = {
      val cfg = day.fold(VcPipeline.Config(facts.histDir, out))(d =>
        VcPipeline.Config(facts.stagingDir, out, incrementalDs = Some(Gen.dayDs(d)),
          appendMode = true))
      val (res, s) = run.step(s"elt.$label", "pipeline") { VcPipeline.run(spark, cfg) }
      val errored = res.collect { case (k, Pipeline.Errored(e)) => s"$k: ${e.getMessage}" }
      val ok = run.check(s"$label stages", errored.isEmpty, errored.mkString("; "))
      day match {
        case None => run.loads += s
        case Some(d) => run.ops += Op(label, s, facts.dayRows(d), ok, sample)
      }
      res.values.foreach {
        case Pipeline.Completed(_) => run.layer("pipeline.stages_completed", 1)
        case Pipeline.Skipped => run.layer("pipeline.stages_skipped", 1)
        case Pipeline.Errored(_) => run.layer("pipeline.stages_errored", 1)
      }
    }
    // the warehouse as each call left it, checked by run.py with DuckDB
    // after the JVM exits: dense continued surrogate keys, dim sizes equal
    // to the generator's distinct natural keys, and unchanged row counts
    // after the replayed and the empty day
    def snapshot(label: String, expectAfter: Option[Int], sameAs: String = ""): Unit = {
      val dir = s"${run.work}/elt/snapshots/${cycle}_$label"
      Gen.copyTree(new java.io.File(out), new java.io.File(dir))
      import Json._
      val expect = expectAfter.fold(Seq.empty[(String, String)])(i => Seq(
        "dim_company" -> num(facts.companiesAfter(i)), "dim_people" -> num(facts.peopleAfter(i))))
      run.pyChecks += obj("kind" -> str("elt_snapshot"), "label" -> str(s"cycle $cycle $label"),
        "dir" -> str(dir), "dense" -> arr(DimKeys.map { case (t, k) => arr(Seq(str(t), str(k))) }),
        "tables" -> arr(Tables.map(str)), "expect_rows" -> obj(expect: _*),
        "same_as" -> (if (sameAs.isEmpty) "null" else str(s"cycle $cycle $sameAs")))
    }

    pipeline("full_load", None)
    snapshot("full_load", Some(0))
    for (d <- 0 until Days) {
      pipeline("day", Some(d))
      snapshot(s"day_$d", Some(d + 1))
    }
    pipeline("replay_day", Some(Days - 1), sample = false)
    snapshot("replay_day", Some(Days), sameAs = s"day_${Days - 1}")
    pipeline("empty_day", Some(Days), sample = false)
    snapshot("empty_day", Some(Days), sameAs = s"day_${Days - 1}")
    val dir = new java.io.File(out)
    run.layer("sources.files_written", Gen.dataFiles(dir))
    run.layer("sources.bytes_written", Gen.dirBytes(dir))
    run.layer("sources.input_bytes", facts.inputBytes + Gen.dirBytes(new java.io.File(facts.stagingDir)))
  }

  /** The pipeline's module calls made one by one, each its own span:
    * staging reads, cleaning functions, DimDate, Warehouse dims and
    * facts, parquet writes, the lake merge and the profiler. */
  def probeLayers(run: Run): Unit = {
    import graft.operators.{DimDate, Profiler, Warehouse}
    import graft.sources.{JdbcUpsert, Readers, Writers}
    import graft.functions.Cleaning
    val spark = run.spark
    val out = s"${run.work}/elt/probe"
    def act(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val stg = Seq("company", "funds", "people", "relationships", "investments",
      "funding_rounds", "ipos", "acquisition", "milestones").map { t =>
      val (df, _) = run.step(s"sources.read.$t", "sources", "sources.read_s") {
        Readers.parquet(spark, s"${facts.histDir}/$t.parquet").localCheckpoint()
      }
      t -> df
    }.toMap
    run.step("functions.cleaning", "functions", "functions.cleaning_s") {
      act(stg("company").select(Cleaning.cleanAddress(col("address1")),
        Cleaning.fullAddress(Cleaning.cleanAddress(col("address1")),
          Cleaning.cleanAddress(col("address2"))),
        Cleaning.normalizeLower(col("region")), Cleaning.entityType(col("object_id"))))
      act(stg("funds").select(Cleaning.toUsd(col("raised_currency_code"), col("raised_amount")),
        Cleaning.dateKey(col("funded_at"))))
      act(stg("ipos").select(Cleaning.cleanStockSymbol(col("stock_symbol"))))
    }
    val (dimDate, _) = run.step("operators.dimdate", "operators", "operators.dimdate_s") {
      DimDate.build(spark).localCheckpoint()
    }
    val (dims, _) = run.step("operators.warehouse.dims", "operators", "operators.warehouse.dims_s") {
      Map(
        "dim_company" -> Warehouse.withDenseKey(Warehouse.dimCompany(stg("company")),
          "sk_company_id", "nk_company_id").localCheckpoint(),
        "dim_funds" -> Warehouse.withDenseKey(Warehouse.dimFunds(stg("funds"), dimDate),
          "sk_fund_id", "nk_fund_id").localCheckpoint(),
        "dim_people" -> Warehouse.withDenseKey(Warehouse.dimPeople(stg("people")),
          "sk_people_id", "nk_people_id").localCheckpoint())
    }
    val (facts2, _) = run.step("operators.warehouse.facts", "operators", "operators.warehouse.facts_s") {
      Map(
        "fct_investments" -> Warehouse.fctInvestments(stg("investments"), dims("dim_company"),
          dims("dim_funds"), dimDate, stg("funding_rounds")).localCheckpoint(),
        "fct_ipos" -> Warehouse.fctIpos(stg("ipos"), dims("dim_company"), dimDate).localCheckpoint(),
        "fct_acquisition" -> Warehouse.fctAcquisition(stg("acquisition"), dims("dim_company"),
          dimDate).localCheckpoint(),
        "bridge_company_people" -> Warehouse.bridgeCompanyPeople(stg("relationships"),
          dims("dim_company"), dims("dim_people")).localCheckpoint())
    }
    run.step("sources.write", "sources", "sources.write_s") {
      (dims ++ facts2).foreach { case (t, df) => Writers.parquetOverwrite(df, s"$out/$t") }
    }
    run.step("sources.merge", "sources", "sources.merge_s") {
      val existing = spark.read.parquet(s"$out/fct_investments")
      val delta = existing.limit(50).withColumn("funding_round_type", lit("replayed"))
      act(JdbcUpsert.mergeByKey(existing, delta, Seq("dd_investment_id"), "dd_investment_id"))
    }
    run.step("operators.profiler", "operators", "operators.profiler_s") {
      Seq("dim_company", "dim_funds").map(t => Profiler.profile(dims(t), "warehouse", t))
        .reduce(_ unionByName _).collect()
    }
  }
}
