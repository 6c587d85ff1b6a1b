package graft.core

import graft.SparkSpec
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions, classic}

/** [[Sessions.local]] against a SparkSession that code outside the
  * engine built without [[graft.expr.GraftExtensions]]. */
class SessionsSpec extends SparkSpec {

  /** A session on the shared SparkContext and SharedState with no
    * extensions applied. Every public way to build one applies the
    * context's `spark.sql.extensions`, so the private primary
    * constructor is called reflectively. */
  private def plainSession(): SparkSession =
    classOf[classic.SparkSession].getConstructors
      .find(_.getParameterCount == 6).get
      .newInstance(spark.sparkContext, Some(spark.sharedState), None,
        new SparkSessionExtensions, Map.empty[String, String], Map.empty[String, String])
      .asInstanceOf[SparkSession]

  test("Sessions.local refuses a session built without GraftExtensions, naming the extension") {
    val plain = plainSession()
    val unresolved = intercept[Exception](
      plain.sql("SELECT graft_cosine(array(1d), array(1d))").collect())
    assert(unresolved.getMessage.contains("UNRESOLVED_ROUTINE"))
    val previous = SparkSession.getActiveSession
    SparkSession.setActiveSession(plain)
    try {
      val refused = intercept[IllegalStateException](Sessions.local())
      assert(refused.getMessage.contains("graft.expr.GraftExtensions") &&
        refused.getMessage.contains("spark.sql.extensions"), refused.getMessage)
    } finally previous.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
    assert(!spark.sparkContext.isStopped)
  }
}
