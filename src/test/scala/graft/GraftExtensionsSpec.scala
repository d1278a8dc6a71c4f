package graft

import org.apache.spark.sql.SparkSession

/** The config-only injection path must give SQL users the same functions
  * the catalog registers imperatively. Builds a second SparkSession on
  * the shared SparkContext with the extensions applied (clearing the
  * default/active session so getOrCreate cannot short-circuit to the
  * existing one), then restores the shared session for later suites. */
class GraftExtensionsSpec extends SparkSpec {

  test("withExtensions(GraftExtensions) makes cosine_sim/srp_cell SQL-resolvable") {
    val shared = spark // force the shared session to exist first
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      assert(s2 ne shared, "must be a fresh session, not the shared one")
      val row = s2.sql(
        """SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c,
                  srp_cell(array(1.0D, 1.0D), 2, 2) AS cell""").collect()(0)
      assert(row.getDouble(0) === 1.0)
      assert(row.get(1).isInstanceOf[Int])
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  test("Session.build registers graft's SQL functions on the session it returns") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val names = Seq("cosine_sim", "srp_cell", "l2_sq", "gram_hash60")
    val reg = spark.sessionState.functionRegistry
    // other specs may have registered them on the shared session already
    names.foreach(n => reg.dropFunction(FunctionIdentifier(n)))
    assert(names.forall(n => !reg.functionExists(FunctionIdentifier(n))))
    val s = Session.build(cpus = 4, logLevel = "ERROR")
    assert(s eq spark, "getOrCreate hands back the live session")
    names.foreach(n => assert(reg.functionExists(FunctionIdentifier(n)), n))
  }

  test("cosine_sim arity is validated with a message, not an index crash") {
    graft.functions.GraftFunctions.register(spark)
    def messageChain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.toString).mkString("; ")
    val tooFew = intercept[Throwable] {
      spark.sql("SELECT cosine_sim(array(1.0D))").collect()
    }
    assert(messageChain(tooFew).contains("cosine_sim expects"))
    val tooMany = intercept[Throwable] {
      spark.sql("SELECT cosine_sim(array(1.0D), array(1.0D), array(1.0D))").collect()
    }
    assert(messageChain(tooMany).contains("cosine_sim expects"))
  }

  test("extensions class is reflectively constructible (spark.sql.extensions path)") {
    // spark-submit --conf spark.sql.extensions=graft.GraftExtensions does
    // exactly this: Class.forName + no-arg constructor + apply
    val cls = Class.forName("graft.GraftExtensions")
    val inst = cls.getDeclaredConstructor().newInstance()
      .asInstanceOf[org.apache.spark.sql.SparkSessionExtensions => Unit]
    inst(new org.apache.spark.sql.SparkSessionExtensions) // must not throw
  }
}
