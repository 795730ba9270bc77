package graft

/** The declared session in one place: the overlay's parse and precedence,
  * and the shared test session reading back every declared setting. */
class SessionSpec extends GraftSuite {

  test("overlay entries apply after the declared defaults and override them") {
    val got = Session.settings(4,
      " spark.sql.join.preferSortMergeJoin = true ;spark.io.compression.codec=zstd;")
    assert(got.take(Session.defaults(4).size) === Session.defaults(4))
    assert(got.drop(Session.defaults(4).size) === Seq(
      "spark.sql.join.preferSortMergeJoin" -> "true",
      "spark.io.compression.codec" -> "zstd"))
    assert(got.toMap.apply("spark.sql.join.preferSortMergeJoin") === "true")
    assert(got.toMap.apply("spark.master") === "local[4]")
  }

  test("an overlay entry that is not k=v is rejected by name") {
    val e = intercept[IllegalArgumentException](
      Session.settings(4, "spark.ui.enabled=true;preferSmj;=x"))
    assert(e.getMessage.contains("not k=v: preferSmj"))
    assert(intercept[IllegalArgumentException](Session.overlay("=x"))
      .getMessage.contains("not k=v: =x"))
  }

  test("an empty overlay (SPARK_GRAFT_CONF unset) does nothing") {
    val declared = Session.defaults(8)
    assert(Session.settings(8, "") === declared)
    assert(Session.settings(8, " ; ;") === declared)
  }

  test("the shared test session reads back every declared setting") {
    val want = Session.settings(Session.cpus,
      sys.env.getOrElse("SPARK_GRAFT_CONF", "")).toMap
    want.foreach { case (k, v) => assert(spark.conf.get(k) === v, k) }
    assert(spark.sparkContext.master === want("spark.master"))
  }
}
