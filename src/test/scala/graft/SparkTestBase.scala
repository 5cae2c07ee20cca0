package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** Shared test harness (SURVEY.md §5): one local session per JVM,
  * tuple→DF builders, and chispa-style DataFrame equality — the Scala
  * analogue of reference test_utils.py:19-206.
  */
object SparkTestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "1")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // unique per JVM: a reused warehouse dir + fresh in-memory catalog
    // makes saveAsTable fail with LOCATION_ALREADY_EXISTS
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_test_warehouse").toString)
    .getOrCreate()
}

trait SparkTestBase extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.spark
  SparkTestSession.spark.sparkContext.setLogLevel("WARN")

  /** Build a DataFrame from a DDL schema string + rows — the analogue of
    * reference test_utils.py:186-196 `create_spark_df`. */
  def df(ddl: String, rows: Seq[Any]*): DataFrame = {
    val schema = StructType.fromDDL(ddl)
    spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows.map(Row.fromSeq)).asJava),
      schema)
  }

  /** chispa-style equality: same columns, same multiset of rows (order-
    * insensitive by default), nullability ignored. */
  def assertDfEqual(
      actual: DataFrame,
      expected: DataFrame,
      checkOrder: Boolean = false,
      tolerance: Double = 0.0): Unit = {
    assert(actual.columns.toSeq == expected.columns.toSeq,
      s"columns differ: ${actual.columns.toSeq} vs ${expected.columns.toSeq}")
    val a = actual.collect().map(normalise(_, tolerance)).toSeq
    val e = expected.collect().map(normalise(_, tolerance)).toSeq
    if (checkOrder) assert(a == e, s"rows differ (ordered):\n$a\nvs\n$e")
    else {
      val (as, es) = (a.sortBy(_.toString), e.sortBy(_.toString))
      assert(as == es, s"rows differ:\n${as.take(10)}\nvs\n${es.take(10)}")
    }
  }

  private def normalise(r: Row, tol: Double): Seq[Any] =
    r.toSeq.map {
      case d: Double if tol > 0 => math.rint(d / tol) * tol
      case f: Float if tol > 0  => math.rint(f / tol) * tol
      case v => v
    }

  def assertThrowsMessage[T <: Throwable](substring: String)(body: => Any)(
      implicit ct: scala.reflect.ClassTag[T]): Unit = {
    val e = intercept[T](body)
    assert(e.getMessage != null && e.getMessage.contains(substring),
      s"message '${e.getMessage}' does not contain '$substring'")
  }

  /** `body` with the session conf `key` set to `value`, the prior
    * setting restored afterwards (set or unset). */
  def withSessionConf[T](key: String, value: String)(body: => T): T = {
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Labeled test case for [[parametrizeCases]] — the Scala analogue of
    * the reference's `Case` container (test_utils.py:40-90): `label` is
    * the test ID shown per case in the runner output; `params` carries
    * the case's inputs (a case class or tuple plays kwargs, fields
    * accessed by name at the use site); `skip = true` registers the
    * case as ignored, mirroring `marks=pytest.mark.skip`. */
  case class Case[A](label: String, params: A, skip: Boolean = false)

  /** Named-case parametrisation (reference test_utils.py:92-157
    * `parametrize_cases`): registers one ScalaTest test per case, named
    * "`name` [`label`]", so each case reports, filters and fails
    * individually — exactly what the pytest `ids` mechanism gives. */
  def parametrizeCases[A](name: String)(cases: Case[A]*)(body: A => Unit): Unit =
    cases.foreach { c =>
      if (c.skip) ignore(s"$name [${c.label}]")(body(c.params))
      else test(s"$name [${c.label}]")(body(c.params))
    }
}
