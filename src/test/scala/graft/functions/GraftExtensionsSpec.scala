package graft.functions

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The SQL surface of the graft native functions, for clients that
  * name a kernel in a SQL string: the one function table that
  * [[VectorExpressions.register]] and [[GraftExtensions]] both read,
  * the builders behind it, plain SQL on a registered session, and the
  * extension's analysis check. The extensions class must be
  * instantiable by Spark's `spark.sql.extensions` loader (no-arg
  * constructor, applies cleanly to a fresh SparkSessionExtensions).
  * Library code builds the kernels as Columns and needs none of this
  * (FreshSessionSpec).
  */
class GraftExtensionsSpec extends AnyFunSuite {
  test("GraftExtensions applies its injections to a fresh extensions instance") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext) // must not throw; registers dot_f32
  }

  test("register adds every function of the one table to a session that lacks them") {
    val s = graft.core.SparkTestBase.session.newSession()
    val names = VectorExpressions.functions.map(_._1)
    assert(names.map(_.funcName) == Seq("dot_f32", "sq_dist_i64", "poly_hash",
      "minhash_signature", "kmin_sketch", "topk_sketch"))
    val registry = s.sessionState.functionRegistry
    assert(names.forall(n => !registry.functionExists(n)))
    VectorExpressions.register(s)
    assert(names.forall(registry.functionExists))
  }

  test("builder rejects wrong arity") {
    intercept[IllegalArgumentException](DotF32.builder(Seq.empty))
    intercept[IllegalArgumentException](KMinSketch.builder(Seq.empty))
    intercept[IllegalArgumentException](TopKSketch.builder(Seq.empty))
    intercept[IllegalArgumentException](MinHashSignature.builder(Seq.empty))
  }

  test("native sketch aggregates are callable from PLAIN SQL on a registered session") {
    // the SQL-client contract: once registered (register() here;
    // spark.sql.extensions on a cluster), kmin_sketch/topk_sketch work
    // from a SQL string with no DataFrame API in sight
    val s = graft.core.SparkTestBase.session
    VectorExpressions.register(s)
    import s.implicits._
    Seq((1L, 9.0), (2L, 7.0), (3L, 9.0), (4L, 1.0))
      .toDF("id", "score").createOrReplaceTempView("graft_ext_probe")
    val kmin = s.sql(
      "SELECT kmin_sketch(id, 3) AS m FROM graft_ext_probe")
      .as[Seq[Long]].head()
    assert(kmin == Seq(1L, 2L, 3L))
    val top = s.sql(
      """SELECT topk_sketch(id, score, 2) AS t FROM graft_ext_probe""")
      .selectExpr("transform(t, e -> e.id) AS ids").as[Seq[Long]].head()
    assert(top == Seq(1L, 3L)) // score desc, id asc tiebreak on the 9.0s
  }

  test("ProductGuard: extension session refuses condition-less joins when enabled") {
    // build a SECOND session over the shared context with the
    // extensions applied (getOrCreate would return the default test
    // session, so clear it around the build and restore after) — this
    // exercises the real injectCheckRule path, not a unit stub
    graft.core.SparkTestBase.session // ensure the shared context exists
    val old = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder().master("local[4]")
      .withExtensions(new GraftExtensions().apply(_))
      .getOrCreate()
    try {
      import s2.implicits._
      val a = Seq(1, 2).toDF("x")
      val b = Seq(3, 4).toDF("y")
      // default: guard off — analysis behavior unchanged
      assert(a.crossJoin(b).count() == 4)
      s2.conf.set(graft.plans.ProductGuard.ConfKey, "true")
      val e = intercept[IllegalStateException](a.crossJoin(b).count())
      assert(e.getMessage.contains("product join refused"))
      // a join WITH keys passes (even when it matches nothing)
      assert(a.join(b, a("x") === b("y")).count() == 0)
      // and a non-equi join with a real condition passes the guard
      assert(a.join(b, a("x") < b("y")).count() == 4)
      s2.conf.set(graft.plans.ProductGuard.ConfKey, "false")
      assert(a.crossJoin(b).count() == 4)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      old.foreach(SparkSession.setDefaultSession)
    }
  }
}
