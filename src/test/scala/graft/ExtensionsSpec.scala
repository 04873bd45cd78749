package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.unsafe.types.UTF8String

/** The SparkSessionExtensions hook and direct expression evaluation. */
class ExtensionsSpec extends SparkSpec {

  test("GraftExtensions registers all native functions without error") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.expressions.GraftExtensions().apply(ext) // must not throw
  }

  test("an extensions-only session resolves every graft function and plans asOfNative natively") {
    // a session built with GraftExtensions alone on this JVM's context: the
    // builder applies extensions only to a session it creates, so the
    // current sessions step aside while it builds, then come back
    assert(!spark.sparkContext.isStopped)
    val (active, default) = (SparkSession.getActiveSession, SparkSession.getDefaultSession)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val ext = try SparkSession.builder()
        .withExtensions(new graft.expressions.GraftExtensions).getOrCreate()
      finally {
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        default.foreach(SparkSession.setDefaultSession)
        active.foreach(SparkSession.setActiveSession)
      }
    assert(ext ne spark)

    val names = Seq("graft_char_hash", "graft_shingle_hashes", "graft_deletion_hashes",
      "graft_minhash_sig", "graft_dot_long", "graft_sorted_intersect_count", "graft_dtw_band",
      "graft_quantize", "graft_simhash60", "graft_ivf_cells", "graft_bloom_might_contain",
      "graft_cms_sketch", "graft_cms_lookup", "graft_kmv_distinct", "graft_kmv_values",
      "graft_shingle_gen")
    for (n <- names)
      assert(ext.sql(s"DESCRIBE FUNCTION $n").collect().mkString.contains(n), n)
    def one(sql: String) = ext.sql(sql).head()
    assert(one("SELECT graft_char_hash('ab')").getLong(0) === (97L * 31 + 98) % 1000000007L)
    assert(one("SELECT graft_sorted_intersect_count(array(1L, 2L, 3L), array(2L, 3L, 4L))")
      .getLong(0) === 2L)
    assert(one("SELECT size(graft_deletion_hashes('abc', 1))").getInt(0) > 0)
    assert(one("SELECT size(graft_kmv_values(id, 4)) FROM range(10)").getInt(0) === 4)
    assert(one("SELECT count(*) FROM (SELECT graft_shingle_gen(array('a', 'b', 'c'), 2))")
      .getLong(0) === 2L)

    // the injected planner strategy plans the as-of join, with no
    // experimental fallback strategy added to the session
    import ext.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 11:00:00")
    val l = Seq((1L, t1, 10L, 1.0)).toDF("k", "ts", "tie", "v")
    val r = Seq((1L, t0, 20L, 2.0)).toDF("k", "ts", "tie", "v")
    val joined = graft.operators.AsOfJoin.asOfNative(l, r, "k", "ts", "tie", Seq("v"))
    assert(joined.head().getAs[Long]("asof_tie") === 20L)
    assert(org.apache.spark.sql.GraftBridge.experimental(ext).extraStrategies.isEmpty)
  }

  test("expressions evaluate standalone (no session)") {
    import graft.expressions._
    assert(CharHashExpr(Literal("ab")).eval(null) ===
      (97L * 31 + 98) % graft.functions.CrossFns.HashP)
    assert(CharHashExpr(Literal("")).eval(null) === 0L)
    val arr = new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array[Any](UTF8String.fromString("a"), UTF8String.fromString("b"), UTF8String.fromString("c")))
    val sh = ShingleHashesExpr(Literal.create(arr,
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)), 3)
    val hs = sh.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert(hs.numElements() === 1)
    // "a b c" hashed char by char
    val expected = "a b c".foldLeft(0L)((h, c) => (h * 31 + c) % 1000000007L)
    assert(hs.getLong(0) === expected)
  }
}
