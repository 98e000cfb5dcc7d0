package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-11 hub-collapse pins: the shipped representative-collapsed
  * llm_emb_neardup emits EXACTLY the pair set of the direct quadratic
  * label-blocked join — exceptAll in both directions on (a) the pristine
  * sf0.001 fixture and (b) a 3× verbatim-duplicated corpus (the STRESS.md
  * hub mode distilled: every vector appears three times, so within-class
  * AND cross-class expansions are both exercised; non-vacuity is asserted
  * via the pair counts). A crafted corpus also pins the duplicate-class
  * semantics of the direct llm_minhash output. */
class HubCollapseSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** sf0.001 with every vec_id cloned at +1e7 and +2e7 strides,
    * payloads verbatim — written once per test run. */
  private lazy val dupDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_hub_").toString
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    (0 until 3).map(k => emb.withColumn("vec_id", col("vec_id") + lit(k * 10000000L)))
      .reduce(_ unionByName _)
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def assertPairSetEqual(name: String, a: DataFrame, b: DataFrame): Long = {
    val extra = a.exceptAll(b).count()
    val missing = b.exceptAll(a).count()
    assert(extra == 0 && missing == 0,
      s"$name pair sets diverge: collapsed-only=$extra direct-only=$missing")
    a.count()
  }

  /** Crafted corpus hitting the semantics the fixture-derived pins may
    * never exercise: NULL text (null token array → null band hashes —
    * the band join drops these docs), token MULTISET variants that
    * normalize to one set ("a b" / "b a" / "a a b" are one duplicate
    * class for minhash: toks = sorted DISTINCT hashes), singletons, and
    * for embeddings a zero-norm vector pair (cosine 0/0 = NaN; Spark's
    * comparison semantics rank NaN ABOVE any number, so the bare ≥ 0.4
    * filter would emit the pair — the round-12 NaN POLICY (VERDICT r11
    * task 5) adds an explicit !isnan guard in both forms and in the
    * oracle, so zero-norm pairs are now EXCLUDED, identically
    * everywhere) plus identical vectors under DIFFERENT labels
    * (blocked — must never pair). */
  private lazy val craftedDir: String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_hubedge_").toString
    Seq[(Long, String)](
      (1L, "a b"), (2L, "b a"), (3L, "a a b"),       // one class of 3 (set {a,b})
      (4L, "a b c d e f g h"), (5L, "a b c d e f g h"), // verbatim pair
      (6L, "a b c d e f g x"),                        // near-dup of 4/5 (jac 7/9 < 0.8? 7 shared of 9 union = .78 — candidate but filtered; bands may or may not match)
      (7L, null.asInstanceOf[String]), (8L, null.asInstanceOf[String]), // null texts: never pair
      (9L, "lonely"), (10L, "z")                      // singletons
    ).toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/documents.parquet")
    val zero = Seq.fill(4)(0.0)
    val v1 = Seq(1.0, 0.0, 0.0, 0.0); val v2 = Seq(0.9, 0.1, 0.0, 0.0)
    Seq[(Long, String, Seq[Double])](
      (1L, "L1", v1), (2L, "L1", v1), (3L, "L1", v1), // 3-member class
      (4L, "L1", v2),                                  // near-dup of the class
      (5L, "L2", v1),                                  // same vector, OTHER label — must not pair with 1-3
      (6L, "L2", zero), (7L, "L2", zero)               // zero-norm: NaN cosine, dropped
    ).toDF("vec_id", "label", "embedding").coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("crafted edge corpus: null texts, multiset-equal classes, zero vectors, cross-label dups") {
    val mRows = operators.LlmOps.llmMinhash(spark, craftedDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the multiset class {1,2,3} pairs fully; the verbatim pair (4,5) too
    assert(Set((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L)).subsetOf(mRows))
    // null-text docs never pair (null band hashes)
    assert(!mRows.exists(p => p._1 == 7L || p._2 == 7L || p._1 == 8L || p._2 == 8L))

    val ec = operators.LlmOpsExtra.llmEmbNeardup(spark, craftedDir)
    val ed = operators.LlmOpsExtra.llmEmbNeardupDirect(spark, craftedDir)
    assertPairSetEqual("llm_emb_neardup[crafted]", ec, ed)
    val eRows = ed.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(Set((1L, 2L), (1L, 3L), (2L, 3L)).subsetOf(eRows))
    // round-12 NaN policy: zero-norm identical vectors must NOT pair —
    // their NaN cosine is excluded by the explicit !isnan guard in BOTH
    // forms (previously NaN ≥ 0.4 held under NaN-is-greatest semantics
    // and the pair leaked through; pinned so neither form regresses)
    assert(!eRows.contains((6L, 7L)))
    // cross-label duplicates never pair (the label block)
    assert(!eRows.contains((1L, 5L)) && !eRows.contains((2L, 5L)) && !eRows.contains((3L, 5L)))
  }

  // the name predates crossClassPairs' removal; kept so the test's id is stable
  test("dupClassPairs / crossClassPairs HOF expansions: exact pair sets and edge cases") {
    import spark.implicits._
    def evalPairs(c: org.apache.spark.sql.Column): Seq[(Long, Long)] =
      Seq(1).toDF("x").select(c.as("p"))
        .selectExpr("transform(p, q -> struct(q.a, q.b)) as p")
        .as[Seq[(Long, Long)]].head()
    // C(3,2) ordered pairs of a sorted member array
    assert(evalPairs(operators.LlmOps.dupClassPairs(typedLit(Seq(1L, 2L, 3L))))
      == Seq((1L, 2L), (1L, 3L), (2L, 3L)))
    // singleton and empty classes expand to nothing
    assert(evalPairs(operators.LlmOps.dupClassPairs(typedLit(Seq(7L)))).isEmpty)
    assert(evalPairs(operators.LlmOps.dupClassPairs(typedLit(Seq.empty[Long]))).isEmpty)
  }

  test("llm_emb_neardup shipped (collapsed) == direct on pristine sf0.001") {
    assertPairSetEqual("llm_emb_neardup",
      operators.LlmOpsExtra.llmEmbNeardup(spark, TestSpark.sf0001),
      operators.LlmOpsExtra.llmEmbNeardupDirect(spark, TestSpark.sf0001))
  }

  test("llm_emb_neardup shipped (collapsed) == direct on the 3x duplicated embeddings") {
    val nVecs = spark.read.parquet(s"$dupDir/embeddings.parquet").count()
    val pairs = assertPairSetEqual("llm_emb_neardup",
      operators.LlmOpsExtra.llmEmbNeardup(spark, dupDir),
      operators.LlmOpsExtra.llmEmbNeardupDirect(spark, dupDir))
    // every vector's two clones pair at cosine 1.0 ≥ 0.4 within its label
    // block ⇒ at least C(3,2) per original vector
    assert(pairs >= nVecs, s"hub pin vacuous: $pairs pairs for $nVecs vecs")
  }
}
