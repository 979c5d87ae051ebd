package perfbench

import java.sql.{Date, Timestamp}
import scala.util.Random
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generator. Everything the engine reads in a benchmark run
  * is written here from `--seed`; the same seed gives byte-for-byte the
  * same rows.
  *
  *  - ELT staging: the 9 Crunchbase-shaped staging tables (FIXTURES.md /
  *    VcPipelineSpec schemas) with `created_at` spread over history days
  *    plus `days` incremental days, carrying the fixture edge cases:
  *    orphan FKs, unknown currency, null amounts, empty/junk strings,
  *    embedded newlines, self-acquisitions, re-extracted milestones.
  *    Relationship dates are valid or NULL, never empty strings: under
  *    ANSI casts an empty `start_at` fails the bridge stage outright.
  *  - Documents and embeddings: the engine's sf0.01 testdata tables
  *    (kept in the benchmark's `data` directory), scaled up by
  *    `graft.tools.ScaleGen`, with the seed choosing the copies' letter
  *    permutation and the vectors' sign flips.
  */
object Gen {

  /** First history day; incremental day i (0-based) holds rows created on
    * `FirstDay + HistDays + i`, and its pipeline run uses ds = that day + 1. */
  val FirstDay: java.time.LocalDate = java.time.LocalDate.of(2020, 1, 1)
  val HistDays = 10

  /** Per-table row counts: (history rows, rows per incremental day). */
  final case class EltSizes(companies: (Int, Int), funds: (Int, Int),
                            people: (Int, Int), relationships: (Int, Int),
                            rounds: (Int, Int), investments: (Int, Int),
                            ipos: (Int, Int), acquisitions: (Int, Int),
                            milestones: (Int, Int))

  /** No production extract backs these counts: the repository has none.
    * They keep the reference's entity proportions (investments > companies
    * > rounds and relationships > people > milestones > funds, ipos and
    * acquisitions) at a size where every staging table stays far below the
    * broadcast threshold, as a daily delta does. A pipeline call's time is
    * set by its ~85 small Spark jobs, not by rows: a full load of 1,620
    * rows and a day of ~170 rows both take ~8.5 s on 4 cores. */
  val EltRows: EltSizes = EltSizes(
    companies = (300, 30), funds = (40, 5), people = (200, 20),
    relationships = (240, 25), rounds = (240, 25), investments = (360, 40),
    ipos = (40, 5), acquisitions = (50, 6), milestones = (150, 15))

  /** What the generator knows about its own output, for the checks and
    * the work counts: distinct natural keys per dim after the history
    * load and after each incremental day, and staging rows per day
    * (`dayRows(days)` is the empty day after the last one). */
  final case class EltFacts(stagingDir: String, histDir: String,
                            companiesAfter: IndexedSeq[Int],
                            peopleAfter: IndexedSeq[Int],
                            histRows: Long, dayRows: IndexedSeq[Long],
                            inputBytes: Long)

  def dayDate(i: Int): java.time.LocalDate = FirstDay.plusDays(HistDays + i.toLong)

  /** `ds` of incremental day i (the pipeline keeps rows created ds-1). */
  def dayDs(i: Int): String = dayDate(i).plusDays(1).toString

  private val Currencies = Seq("USD", "CAD", "EUR", "SEK", "AUD", "JPY", "GBP", "NIS", "XYZ")
  private val Words = Seq("alpha", "beta", "cloud", "data", "health", "mobile",
    "labs", "systems", "ventures", "capital", "partners", "networks")
  private val Junk = Seq("", " ", "#", ".", "$$", "AB", "-", "n/a")

  private def ts(d: java.time.LocalDate, r: Random): Timestamp =
    Timestamp.valueOf(d.atTime(r.nextInt(24), r.nextInt(60), r.nextInt(60)))

  private def money(r: Random): java.math.BigDecimal =
    if (r.nextInt(12) == 0) null
    else java.math.BigDecimal.valueOf(r.nextInt(50000000).toLong * 100 + r.nextInt(100), 2)

  private def phrase(r: Random, n: Int): String =
    Seq.fill(n)(Words(r.nextInt(Words.size))).mkString(" ")

  private def junkOr(r: Random, s: => String): String =
    r.nextInt(10) match {
      case 0 => null
      case 1 => Junk(r.nextInt(Junk.size))
      case _ => s
    }

  private def f(name: String, dt: DataType) = StructField(name, dt)
  private val Money = DecimalType(15, 2)
  private val Geo = DecimalType(9, 6)

  /** Write the ELT staging area: `histDir` holds the history rows only
    * (the full load's input), `stagingDir` all rows (the incremental
    * days read it through the `created_at` day filter). */
  def elt(spark: SparkSession, root: String, seed: Long, days: Int): EltFacts = {
    val sizes = EltRows
    val r = new Random(seed)
    val stagingDir = s"$root/staging"
    val histDir = s"$root/staging_hist"
    // day index per row: -1 = history (spread over the history days)
    def dayOf(i: Int, sz: (Int, Int)): Int =
      if (i < sz._1) -1 else (i - sz._1) / sz._2
    def created(day: Int): java.time.LocalDate =
      if (day < 0) FirstDay.plusDays(r.nextInt(HistDays).toLong) else dayDate(day)
    def total(sz: (Int, Int)) = sz._1 + sz._2 * days
    val tables = scala.collection.mutable.LinkedHashMap[String, (StructType, Seq[(Int, Row)])]()

    // company: object_id prefixes c:/f:/none drive entity_type
    val nComp = total(sizes.companies)
    val compIds = (0 until nComp).map { i =>
      i % 10 match {
        case 7 => s"f:$i"
        case 9 => s"x$i"
        case _ => s"c:$i"
      }
    }
    val compDay = (0 until nComp).map(dayOf(_, sizes.companies))
    // references only reach entities that exist by the referencing row's
    // day, so replaying a day finds nothing new to join
    def compBy(day: Int): String =
      compIds(r.nextInt(sizes.companies._1 + sizes.companies._2 * math.max(day, 0)))
    tables("company") = (StructType(Seq(f("office_id", IntegerType),
      f("object_id", StringType), f("description", StringType),
      f("region", StringType), f("city", StringType), f("address1", StringType),
      f("address2", StringType), f("zip_code", StringType),
      f("state_code", StringType), f("country_code", StringType),
      f("latitude", Geo), f("longitude", Geo),
      f("created_at", TimestampType), f("updated_at", TimestampType))),
      (0 until nComp).map { i =>
        val c = ts(created(compDay(i)), r)
        (compDay(i), Row(i, compIds(i),
          junkOr(r, phrase(r, 6) + (if (r.nextInt(8) == 0) "\nline two" else "")),
          junkOr(r, s" ${Words(r.nextInt(Words.size)).capitalize} "),
          junkOr(r, s"City${r.nextInt(40)}"),
          junkOr(r, (if (r.nextBoolean()) "#" else ".") + s"${r.nextInt(900)} Main St"),
          junkOr(r, s"Suite ${r.nextInt(50)}"),
          f"${r.nextInt(99999)}%05d", junkOr(r, "CA"),
          junkOr(r, Seq(" us", "gb ", "de", "usa")(r.nextInt(4))),
          java.math.BigDecimal.valueOf(r.nextInt(180000000) - 90000000L, 6),
          java.math.BigDecimal.valueOf(r.nextInt(360000000) - 180000000L, 6),
          c, c))
      })

    // funds: object_id points at a fund-prefixed company (or an orphan)
    val fundObjs = compIds.indices.filter(compIds(_).startsWith("f:"))
    def fundBy(day: Int): String = {
      val n = sizes.companies._1 + sizes.companies._2 * math.max(day, 0)
      val live = fundObjs.takeWhile(_ < n)
      compIds(live(r.nextInt(live.size)))
    }
    val nFunds = total(sizes.funds)
    tables("funds") = (StructType(Seq(f("fund_id", StringType),
      f("object_id", StringType), f("name", StringType), f("funded_at", DateType),
      f("raised_amount", Money), f("raised_currency_code", StringType),
      f("source_url", StringType), f("source_description", StringType),
      f("created_at", TimestampType), f("updated_at", TimestampType))),
      (0 until nFunds).map { i =>
        val d = dayOf(i, sizes.funds)
        val c = ts(created(d), r)
        val obj = if (r.nextInt(15) == 0) s"f:orphan$i" else fundBy(d)
        // 1 in 10 funded before dim_date's range starts: no date match
        val funded = if (r.nextInt(10) == 0) Date.valueOf("1900-06-01")
          else Date.valueOf(FirstDay.minusDays(r.nextInt(8000).toLong))
        (d, Row(s"fd$i", obj, junkOr(r, s" ${phrase(r, 2)} fund "), funded,
          money(r), Currencies(r.nextInt(Currencies.size)),
          s"http://example.com/f/$i", junkOr(r, phrase(r, 4)), c, c))
      })

    // people + relationships (relationships are all-string, as staged)
    val nPeople = total(sizes.people)
    val peopleDay = (0 until nPeople).map(dayOf(_, sizes.people))
    tables("people") = (StructType(Seq(f("people_id", StringType),
      f("object_id", StringType), f("first_name", StringType),
      f("last_name", StringType), f("birthplace", StringType),
      f("affiliation_name", StringType),
      f("created_at", TimestampType), f("updated_at", TimestampType))),
      (0 until nPeople).map { i =>
        val c = ts(created(peopleDay(i)), r)
        (peopleDay(i), Row(s"$i", s"p:$i", junkOr(r, s" First$i "),
          junkOr(r, s"Last${r.nextInt(500)}"), junkOr(r, s"Town${r.nextInt(30)}"),
          junkOr(r, phrase(r, 2)), c, c))
      })
    val nRel = total(sizes.relationships)
    tables("relationships") = (StructType(Seq(f("relationship_id", StringType),
      f("person_object_id", StringType), f("relationship_object_id", StringType),
      f("start_at", StringType), f("end_at", StringType), f("is_past", StringType),
      f("sequence", StringType), f("title", StringType),
      f("created_at", StringType), f("updated_at", StringType))),
      (0 until nRel).map { i =>
        val d = dayOf(i, sizes.relationships)
        val c = ts(created(d), r).toString.take(19)
        // endpoints created no later than the relationship (or orphans)
        val p = if (r.nextInt(20) == 0) s"p:orphan$i"
          else s"p:${r.nextInt(sizes.people._1 + sizes.people._2 * math.max(d, 0))}"
        val o = compBy(d)
        (d, Row(s"rel$i", p, o,
          if (r.nextInt(6) == 0) null else FirstDay.minusDays(r.nextInt(5000).toLong).toString,
          if (r.nextInt(3) == 0) null else FirstDay.minusDays(r.nextInt(300).toLong).toString,
          Seq("true", "false", "", null)(r.nextInt(4)), s"${r.nextInt(9)}",
          junkOr(r, Seq("CEO", "CTO", "Board Member", "Advisor")(r.nextInt(4))), c, c))
      })

    // funding rounds, then the investments that reference them
    val nRounds = total(sizes.rounds)
    val roundDay = (0 until nRounds).map(dayOf(_, sizes.rounds))
    tables("funding_rounds") = (StructType(Seq(f("funding_round_id", IntegerType),
      f("object_id", StringType), f("funded_at", DateType),
      f("funding_round_type", StringType), f("funding_round_code", StringType),
      f("raised_amount_usd", Money), f("raised_amount", Money),
      f("pre_money_valuation_usd", Money), f("pre_money_valuation", Money),
      f("post_money_valuation_usd", Money), f("post_money_valuation", Money),
      f("raised_currency_code", StringType), f("pre_money_currency_code", StringType),
      f("post_money_currency_code", StringType), f("participants", StringType),
      f("is_first_round", BooleanType), f("is_last_round", BooleanType),
      f("source_url", StringType), f("source_description", StringType),
      f("created_by", StringType),
      f("created_at", TimestampType), f("updated_at", TimestampType))),
      (0 until nRounds).map { i =>
        val c = ts(created(roundDay(i)), r)
        val funded = if (r.nextInt(12) == 0) Date.valueOf("1899-12-31")
          else Date.valueOf(FirstDay.minusDays(r.nextInt(7000).toLong))
        (roundDay(i), Row(i, compBy(roundDay(i)), funded,
          Seq("angel", "series-a", "series-b", "venture", "other")(r.nextInt(5)),
          Seq("a", "b", "c", "")(r.nextInt(4)),
          money(r), money(r), money(r), money(r), money(r), money(r),
          Currencies(r.nextInt(Currencies.size)), "USD", "USD",
          s"${r.nextInt(12)}", r.nextBoolean(), r.nextBoolean(),
          s"http://example.com/r/$i", junkOr(r, phrase(r, 3)), "gen", c, c))
      })
    val nInv = total(sizes.investments)
    tables("investments") = (StructType(Seq(f("investment_id", IntegerType),
      f("funding_round_id", IntegerType), f("funded_object_id", StringType),
      f("investor_object_id", StringType),
      f("created_at", TimestampType), f("updated_at", TimestampType))),
      (0 until nInv).map { i =>
        val d = dayOf(i, sizes.investments)
        val c = ts(created(d), r)
        // rounds of the same day (the day's extract carries them), else
        // a missing round id
        val sameDay = roundDay.indices.filter(roundDay(_) == d)
        val round = if (r.nextInt(15) == 0 || sameDay.isEmpty) 900000 + i
          else sameDay(r.nextInt(sameDay.size))
        val funded = if (r.nextInt(20) == 0) s"c:orphan$i" else compBy(d)
        val investor = fundBy(d)
        (d, Row(i, round, funded, investor, c, c))
      })

    val nIpo = total(sizes.ipos)
    tables("ipos") = (StructType(Seq(f("ipo_id", StringType),
      f("object_id", StringType), f("valuation_amount", Money),
      f("raised_amount", Money), f("valuation_currency_code", StringType),
      f("raised_currency_code", StringType), f("public_at", TimestampType),
      f("stock_symbol", StringType), f("source_url", StringType),
      f("source_description", StringType),
      f("created_at", TimestampType), f("updated_at", TimestampType))),
      (0 until nIpo).map { i =>
        val d = dayOf(i, sizes.ipos)
        val c = ts(created(d), r)
        (d, Row(s"$i", compBy(d), money(r), money(r),
          Currencies(r.nextInt(Currencies.size)), Currencies(r.nextInt(Currencies.size)),
          ts(FirstDay.minusDays(r.nextInt(6000).toLong), r),
          Seq(s" NQ:S$i ", "$$$", "123", s"NYSE:T$i", null)(r.nextInt(5)),
          s"http://example.com/i/$i", junkOr(r, phrase(r, 3)), c, c))
      })

    val nAcq = total(sizes.acquisitions)
    tables("acquisition") = (StructType(Seq(f("acquisition_id", IntegerType),
      f("acquiring_object_id", StringType), f("acquired_object_id", StringType),
      f("term_code", StringType), f("price_amount", Money),
      f("price_currency_code", StringType), f("acquired_at", TimestampType),
      f("source_url", StringType), f("source_description", StringType),
      f("created_at", TimestampType), f("updated_at", TimestampType))),
      (0 until nAcq).map { i =>
        val d = dayOf(i, sizes.acquisitions)
        val c = ts(created(d), r)
        val a = compBy(d)
        val b = if (r.nextInt(10) == 0) a else compBy(d)
        (d, Row(i, a, b, Seq("cash", "stock", "", " Cash_and_stock ", null)(r.nextInt(5)),
          money(r), Currencies(r.nextInt(Currencies.size)),
          ts(FirstDay.minusDays(r.nextInt(6000).toLong), r),
          s"http://example.com/a/$i", junkOr(r, phrase(r, 3)), c, c))
      })

    // milestones: every 5th incremental row re-extracts an earlier id
    // with a newer updated_at (the upsert update path)
    val nMs = total(sizes.milestones)
    tables("milestones") = (StructType(Seq(f("created_at", StringType),
      f("description", StringType), f("milestone_at", StringType),
      f("milestone_code", StringType), f("milestone_id", IntegerType),
      f("object_id", StringType), f("source_description", StringType),
      f("source_url", StringType), f("updated_at", StringType))),
      (0 until nMs).map { i =>
        val d = dayOf(i, sizes.milestones)
        val c = ts(created(d), r)
        val id = if (d >= 0 && i % 5 == 0) r.nextInt(sizes.milestones._1) else i
        (d, Row(c.toString.take(19), junkOr(r, phrase(r, 5) + "\nmore"),
          ts(FirstDay.minusDays(r.nextInt(3000).toLong), r).toString.take(19),
          "m-code", id, compBy(d), junkOr(r, phrase(r, 3)),
          null, c.toString.take(19)))
      })

    // one write per table, all at once: partition 0 holds the history
    // rows, partition 1 the incremental days; the history part file is then
    // copied into the full load's staging directory
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tables.size)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val writes = tables.toSeq.map { case (name, (schema, rows)) => scala.concurrent.Future {
      val (hist, inc) = rows.partition(_._1 < 0)
      val parts = spark.sparkContext.parallelize(Seq(hist.map(_._2), inc.map(_._2)), 2)
        .flatMap(identity)
      spark.createDataFrame(parts, schema).write.mode("overwrite")
        .parquet(s"$stagingDir/$name.parquet")
      val histPart = new java.io.File(s"$stagingDir/$name.parquet").listFiles()
        .find(f => f.getName.startsWith("part-00000") && f.getName.endsWith(".parquet")).get
      val target = new java.io.File(s"$histDir/$name.parquet")
      target.mkdirs()
      java.nio.file.Files.copy(histPart.toPath, target.toPath.resolve(histPart.getName))
    } }
    try writes.foreach(scala.concurrent.Await.result(_, scala.concurrent.duration.Duration.Inf))
    finally pool.shutdown()
    def after(ids: IndexedSeq[String], dayOfRow: IndexedSeq[Int]): IndexedSeq[Int] =
      (-1 until days).map(d => ids.indices.filter(dayOfRow(_) <= d).map(ids).distinct.size)
    val byDay = tables.values.toSeq.flatMap(_._2.map(_._1)).groupBy(identity)
      .map { case (d, xs) => d -> xs.size.toLong }
    EltFacts(stagingDir, histDir,
      companiesAfter = after(compIds, compDay),
      peopleAfter = after((0 until nPeople).map(i => s"p:$i"), peopleDay),
      histRows = byDay.getOrElse(-1, 0L),
      dayRows = (0 to days).map(byDay.getOrElse(_, 0L)),
      inputBytes = dirBytes(new java.io.File(histDir)))
  }

  private val Lower = "abcdefghijklmnopqrstuvwxyz"

  /** The seed's letter permutation of the document text. */
  def textCipher(seed: Long): String =
    new Random(seed ^ 0xC1F3L).shuffle(Lower.toList).mkString

  /** Replicate the testdata base in `dataDir` (the `documents` and
    * `embeddings` tables of the engine's sf0.01 testdata) `factor`x
    * through the engine's own scale-up tool. ScaleGen owns (creates and
    * stops) its session, so this runs while no benchmark session exists. */
  def scale(dataDir: String, outDir: String, factor: Int, tables: String): Unit =
    graft.tools.ScaleGen.main(Array(dataDir, outDir, factor.toString, tables))

  /** The seed's choice of the copies: the document text goes through the
    * seed's letter permutation on top of ScaleGen's per-copy cipher (a
    * bijection on letters, so token counts, lengths and the duplicate and
    * near-duplicate structure stay those of the testdata, and copies still
    * never share a word); every vector gets a seeded per-dimension sign
    * flip, an orthogonal map that keeps every cosine. Reads ScaleGen's
    * output in `scaledDir`, writes `outDir`. */
  def seedCorpus(spark: SparkSession, scaledDir: String, outDir: String, seed: Long,
                 tables: Seq[String]): Unit = {
    import org.apache.spark.sql.functions._
    if (tables.contains("documents")) {
      val p = textCipher(seed)
      spark.read.parquet(s"$scaledDir/documents.parquet")
        .withColumn("text",
          translate(translate(col("text"), Lower, p), Lower.toUpperCase, p.toUpperCase))
        .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    }
    if (tables.contains("embeddings")) {
      val r = new Random(seed ^ 0xE3BEDL)
      val signs = Array.fill(256)(if (r.nextBoolean()) 1.0f else -1.0f).toSeq
      spark.read.parquet(s"$scaledDir/embeddings.parquet")
        .withColumn("embedding", transform(col("embedding"),
          (x, i) => x * element_at(typedLit(signs), i + 1)))
        .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    }
  }

  def copyTree(from: java.io.File, to: java.io.File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      Option(from.listFiles()).toSeq.flatten.foreach(f => copyTree(f, new java.io.File(to, f.getName)))
    } else java.nio.file.Files.copy(from.toPath, to.toPath)

  def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else if (f.getName.endsWith(".parquet")) f.length() else 0L

  def dataFiles(f: java.io.File): Int =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dataFiles).sum
    else if (f.getName.endsWith(".parquet")) 1 else 0
}
