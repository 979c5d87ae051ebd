package perfbench

import scala.util.Random
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Ivf, IvfPq, Pq, Similarity}

/** `ann_retrieval`: the engine's sf0.01 testdata embeddings scaled by
  * ScaleGen, with seeded sign flips. The timed region builds the IVF index
  * (trained centroids + assignment store) and the PQ codes into a store
  * once, then runs a closed loop of batched top-k searches, rotating
  * `Ivf.ivfTopKFromStore`, `Pq.adcTopK` and `IvfPq.ivfPqTopK`, with query
  * batches drawn from the seed. Recall is measured against an exact top-k
  * the benchmark computes itself. */
object AnnRetrieval extends Workload {
  val name = "ann_retrieval"
  val Factor = 4
  val K = 10
  val BatchQueries = 8
  val MinBatches = 100
  /** Search batches per method in the ANN layer probe of a traced run. */
  val ProbeBatches = 4
  val Centroids = 16
  val NProbe = 4
  val M = 8
  val Ks = 16
  val LloydIters = 2
  val Methods = Seq("ivf", "pq", "ivfpq")
  /** Recall floors per method over a run, a guard against trading recall
    * for speed: a method below its floor is a wrong-output operation.
    * Measured on this corpus (seed 3, ~265 queries per method): IVF 0.55,
    * PQ 0.11, IVF-PQ 0.11; a random top-10 of 2,000 vectors scores 0.005.
    * The floors sit about three standard errors of a 32-query traced probe
    * below the measured recall. */
  val RecallFloor = Map("ivf" -> 0.35, "pq" -> 0.05, "ivfpq" -> 0.05)

  private var corpusDir: String = _
  private var ids: Array[Long] = _
  private var vecs: Map[Long, Array[Double]] = _
  private var batchNo = 0
  private val recall = scala.collection.mutable.Map[String, (Double, Int)]()

  override def scaleInputs(run: Run, traced: Boolean): Unit =
    Gen.scale(run.data, s"${run.work}/ann/scaled", Factor, "embeddings")

  def generate(run: Run, traced: Boolean): Unit = {
    corpusDir = s"${run.work}/ann/corpus"
    Gen.seedCorpus(run.spark, s"${run.work}/ann/scaled", corpusDir, run.seed,
      Seq("embeddings"))
    val rows = corpus(run).select(col("vec_id"), Similarity.toDouble(col("embedding")))
      .collect()
    vecs = rows.map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    ids = vecs.keys.toArray.sorted
    run.inputs("vectors") = s"${ids.length} x 64-dim (sf0.01 testdata embeddings x ScaleGen factor $Factor)"
    run.inputs("vectors_bytes") = Gen.dirBytes(new java.io.File(corpusDir)).toString
    run.inputs("index") = s"IVF c=$Centroids nprobe=$NProbe lloyd=$LloydIters; PQ m=$M ks=$Ks; k=$K, $BatchQueries queries/batch"
  }

  private def corpus(run: Run): DataFrame =
    run.spark.read.parquet(s"$corpusDir/embeddings.parquet")

  /** Store: trained centroids, the assignment store and the PQ codes. */
  private def build(run: Run, dir: String): Seq[Ivf.Centroid] = {
    val spark = run.spark
    val emb = corpus(run)
    val (cents, _) = run.step("operators.ivf.train", "operators", "operators.ivf.train_s") {
      val seeds = Ivf.seedCentroids(emb, "vec_id", "embedding", Centroids)
      Ivf.lloydRefine(emb, "vec_id", "embedding", seeds, LloydIters)
    }
    run.step("operators.ivf.assign", "operators", "operators.ivf.assign_s") {
      Ivf.assign(emb, "vec_id", "embedding", cents).hint("rebalance", col("id"))
        .write.mode("overwrite").parquet(s"$dir/assigned")
      Ivf.centroidsAsDf(spark, cents).write.mode("overwrite").parquet(s"$dir/centroids")
    }
    run.step("operators.pq.encode_store", "operators") {
      val books = Pq.seedCodebooks(emb, "vec_id", "embedding", M, Ks)
      Pq.encode(emb, "vec_id", "embedding", books).write.mode("overwrite").parquet(s"$dir/codes")
    }
    Ivf.centroidsFromDf(spark.read.parquet(s"$dir/centroids"))
  }

  def warmup(run: Run): Unit = {
    val dir = s"${run.work}/ann/store_warmup"
    val cents = build(run, dir)
    val rnd = new Random(run.seed ^ 0xA77L)
    Methods.foreach(m => search(run, dir, cents, m, rnd, timed = false))
  }

  def measure(run: Run): Unit = {
    val dir = s"${run.work}/ann/store"
    recall.clear()
    run.cycles += 1
    val start = System.nanoTime()
    val (cents, buildS) = run.step("ann.build", "operators") { build(run, dir) }
    run.loads += buildS
    val rnd = new Random(run.seed)
    var i = 0
    while (i < MinBatches || !run.deadlinePassed(start)) {
      search(run, dir, cents, Methods(i % 3), rnd, timed = true)
      i += 1
    }
    checkRecall(run)
  }

  /** Recall per method against its floor; the mean is reported. */
  private def checkRecall(run: Run): Unit = {
    recall.foreach { case (m, (sum, n)) =>
      run.quality(s"recall_at_10.$m") = sum / n
      run.check(s"ann $m recall", sum / n >= RecallFloor(m), f"recall ${sum / n}%.3f floor ${RecallFloor(m)}")
    }
    val (sum, n) = recall.values.foldLeft((0.0, 0)) { case ((a, b), (c, d)) => (a + c, b + d) }
    run.layer("ann.recall_at_10", sum / n)
    run.quality("recall_at_10") = sum / n
  }

  private def exactTopK(q: Long): Seq[Long] = {
    val qv = vecs(q)
    val qn = math.sqrt(qv.map(x => x * x).sum)
    ids.iterator.filter(_ != q).map { id =>
      val v = vecs(id)
      var dot = 0.0
      var nn = 0.0
      var j = 0
      while (j < v.length) { dot += qv(j) * v(j); nn += v(j) * v(j); j += 1 }
      (id, dot / (qn * math.sqrt(nn)))
    }.toSeq.sortBy { case (id, s) => (-s, id) }.take(K).map(_._1)
  }

  /** One batched search; checked (shape, ranks, exact cosine for IVF,
    * monotone ADC distance for PQ) outside the timed call. */
  private def search(run: Run, dir: String, cents: Seq[Ivf.Centroid], method: String,
                     rnd: Random, timed: Boolean, record: Boolean = true): Unit = {
    val spark = run.spark
    batchNo += 1
    val qs = Seq.fill(BatchQueries)(ids(rnd.nextInt(ids.length))).distinct
    val layerMetric = if (method == "ivf") "operators.ivf.search_s" else "operators.pq.search_s"
    val (rows, s) = run.step(s"ann.search.$method", "operators") {
      val df = method match {
        case "ivf" =>
          val emb = corpus(run)
          Ivf.ivfTopKFromStore(spark.read.parquet(s"$dir/assigned"), cents,
            emb.filter(col("vec_id").isin(qs: _*)), "vec_id", "embedding", K, NProbe)
        case "pq" => Pq.adcTopK(corpus(run), "vec_id", "embedding", qs, K, M, Ks)
        case "ivfpq" => IvfPq.ivfPqTopK(corpus(run), "vec_id", "embedding", qs, K,
          Centroids, NProbe, M, Ks)
      }
      df.collect()
    }
    val got = rows.map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1)
    val problems = qs.flatMap { q =>
      val mine = got.getOrElse(q, Array.empty).sortBy(_._2)
      val shape =
        if (mine.map(_._2).toSeq != (1 to K)) Some(s"q=$q ranks ${mine.map(_._2).mkString(",")}")
        else if (mine.exists(_._3 == q)) Some(s"q=$q returned itself")
        else None
      val values = method match {
        case "ivf" => mine.find { case (_, _, n, c) =>
          math.abs(c - cosine(vecs(q), vecs(n))) > 1e-9 }.map(m => s"q=$q cosine $m")
        case _ => mine.sliding(2).find(w => w.length == 2 && w(0)._4 > w(1)._4)
          .map(w => s"q=$q adc not ascending ${w.mkString(",")}")
      }
      shape.orElse(values)
    }
    val r = qs.map(q => exactTopK(q).intersect(got.getOrElse(q, Array.empty).map(_._3).toSeq)
      .size.toDouble / K).sum / qs.size
    if (timed) {
      run.layerSample(layerMetric, s)
      val ok = run.check(s"ann batch $batchNo ($method)", problems.isEmpty, problems.mkString("; "))
      if (record) run.ops += Op(method, s, qs.size, ok)
      val (a, n) = recall.getOrElse(method, (0.0, 0))
      recall(method) = (a + r * qs.size, n + qs.size)
    }
  }

  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var j = 0
    while (j < a.length) { dot += a(j) * b(j); na += a(j) * a(j); nb += b(j) * b(j); j += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** One IVF search batch against the timed loop's store. */
  def overheadProbe(run: Run): Unit = {
    val dir = s"${run.work}/ann/store"
    search(run, dir, Ivf.centroidsFromDf(run.spark.read.parquet(s"$dir/centroids")), "ivf",
      new Random(run.seed ^ 0x0FL), timed = false)
  }

  def probeLayers(run: Run): Unit = probeExpressions(run)

  /** The ANN layers of a traced `dedup_curation` run: an untraced warm-up
    * (one store build and one batch per method), then a traced store build
    * and `ProbeBatches` checked batches per method with the recall guard,
    * then the expression kernels. */
  def probeAnn(run: Run): Unit = {
    recall.clear()
    val rnd = new Random(run.seed)
    run.tracer.suspend(true)
    val warm = s"${run.work}/ann/store_warmup"
    val warmCents = build(run, warm)
    Methods.foreach(m => search(run, warm, warmCents, m, rnd, timed = false))
    run.tracer.suspend(false)
    val dir = s"${run.work}/ann/store"
    val (cents, _) = run.step("ann.build", "operators") { build(run, dir) }
    for (i <- 0 until ProbeBatches * Methods.size)
      search(run, dir, cents, Methods(i % 3), rnd, timed = true, record = false)
    checkRecall(run)
    probeExpressions(run)
  }

  private def probeExpressions(run: Run): Unit = {
    val spark = run.spark
    def act(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val v = Similarity.toDouble(col("embedding"))
    val q = vecs(ids(0)).toSeq
    run.step("expressions.cosine", "expressions", "expressions.cosine_s") {
      act(corpus(run).select(graft.expressions.CosineSimilarity.column(spark, v, typedLit(q))))
    }
    run.step("expressions.hyperplane_sig", "expressions", "expressions.hyperplane_sig_s") {
      act(corpus(run).select((0 until 8).map(t => Similarity.hyperplaneSignature(v, 8, t)): _*))
    }
    run.step("expressions.pq_encode", "expressions", "expressions.pq_encode_s") {
      val books = Pq.seedCodebooks(corpus(run), "vec_id", "embedding", M, Ks)
      act(Pq.encode(corpus(run), "vec_id", "embedding", books))
    }
  }
}
