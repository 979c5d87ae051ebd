package graft

import org.apache.spark.sql.functions._
import graft.expressions.CosineSimilarity
import graft.operators.Similarity

/** The native codegen expression must be bit-identical to the
  * zip_with/aggregate composition, SQL-callable, and null-safe. */
class CosineExprSpec extends SparkSpec {
  import spark.implicits._

  private type Vec = Seq[java.lang.Double]
  private def vec(n: Int, x: Double): Vec = Seq.fill[java.lang.Double](n)(x)

  /** Corpus x queries, both real embeddings plus edge rows. Corpus edges:
    * ragged (63 and 65 long), a NULL element, an all-zero vector. Query
    * edges: ragged, a NULL element. The composition returns NULL for every
    * pair with a ragged or NULL-element side. */
  private def withEdges(emb: org.apache.spark.sql.DataFrame) = {
    val corpus = emb.select($"v").unionByName(Seq[Vec](vec(63, 0.5),
      vec(65, 0.5), vec(64, 0.5).updated(7, null), vec(64, 0.0)).toDF("v"))
    val queries = emb.limit(5).select($"v".as("q")).unionByName(
      Seq[Vec](vec(3, 1.0), vec(64, 1.0).updated(0, null)).toDF("q"))
    corpus.crossJoin(queries)
  }

  test("bit-identical to the Column composition on real embeddings") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", Similarity.toDouble($"embedding").as("v"))
    // the reference side is the PURE zip_with/aggregate composition
    // (Similarity.cosine itself routes through the dot kernel since r21,
    // so it can no longer serve as the independent reference)
    def pureCosine(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) = {
      val d = sqrt(Similarity.dot(a, a)) * sqrt(Similarity.dot(b, b))
      val dot = Similarity.dot(a, b)
      when(d > 0, dot / d).when(dot.isNotNull, lit(0.0))
    }
    val withBoth = withEdges(emb)
      .select(
        pureCosine($"q", $"v").as("composed"),
        CosineSimilarity.column(spark, $"q", $"v").as("native"),
        Similarity.cosine($"q", $"v").as("routed"))
    val diff = withBoth.filter(!($"composed" <=> $"native") ||
      !($"composed" <=> $"routed")).count()
    assert(diff == 0, s"$diff rows differ between composed/native/routed cosine")
    assert(withBoth.filter($"native".isNull).count() > 0)
  }

  test("graft_dot kernel bit-identical to the zip_with/aggregate dot") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.01")
      .select($"vec_id", Similarity.toDouble($"embedding").as("v"))
    val withBoth = withEdges(emb)
      .select(
        Similarity.dot($"q", $"v").as("composed"),
        Similarity.dotNative($"q", $"v").as("native"))
    val diff = withBoth.filter(!($"composed" <=> $"native")).count()
    assert(diff == 0, s"$diff rows differ between composed and native dot")
    assert(withBoth.filter($"native".isNull).count() > 0)
  }

  test("SQL-callable after registration") {
    CosineSimilarity.register(spark)
    val r = spark.sql("SELECT graft_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c")
      .collect()(0).getDouble(0)
    assert(math.abs(r - 1.0) < 1e-15)
  }

  test("null and zero-vector handling") {
    val df = Seq(
      (Some(Seq(0.0, 0.0)), Some(Seq(1.0, 2.0))),
      (None, Some(Seq(1.0, 2.0))),
      (Some(Seq(1.0)), Some(Seq(1.0, 2.0)))
    ).toDF("a", "b")
    val got = df.select(CosineSimilarity.column(spark, $"a", $"b").as("c"),
      Similarity.dotNative($"a", $"b").as("d")).collect()
    assert(got(0).getDouble(0) == 0.0) // zero vector -> 0, not NaN
    assert(got(1).isNullAt(0))         // null input -> null
    // ragged input with non-null elements (no element scan) -> null
    assert(got(2).isNullAt(0) && got(2).isNullAt(1))
  }
}
