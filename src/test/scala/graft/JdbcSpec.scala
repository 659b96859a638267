package graft

import graft.pipeline.{JdbcSource, Sinks}
import org.apache.spark.sql.functions._

/** S4/S5 JDBC round-trip over the embedded Derby driver (the classpath's
  * stand-in for the reference's SQLite file DB): sink a frame over JDBC
  * with the sink-form rules applied, read it back over SQL, and verify
  * rows + the null→'nan' stringify quirk survive. */
class JdbcSpec extends SparkSpec {
  import spark.implicits._

  private val url = "jdbc:derby:memory:graftdb;create=true"
  private def props = {
    val p = new java.util.Properties
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p
  }

  test("jdbc sink + source round-trip preserves rows and the 'nan' rule") {
    val df = Seq(
      (1L, Some("casa bonita"), 1500.0),
      (2L, None, 800.0),
      (3L, Some("depto centro"), 2200.0)
    ).toDF("id", "name", "price")
      .withColumn("name", col("name").cast("string"))

    Sinks.jdbc(df, url, "listings_t", props)
    val back = new JdbcSource(url, props).load(spark, "listings_t")

    assert(back.count() === 3L)
    val rows = back.orderBy("id").as[(Long, String, Double)].collect().toSeq
    assert(rows === Seq(
      (1L, "casa bonita", 1500.0),
      (2L, "nan", 800.0), // null string → literal 'nan' at the sink
      (3L, "depto centro", 2200.0)))
  }

  test("jdbc sink JSON-stringifies array and struct columns, like the csv sink") {
    val df = Seq(
      (1L, Seq("Wifi", "Kitchen"), ("Roma", 2)),
      (2L, Seq.empty[String], ("Condesa", 0))
    ).toDF("id", "amenities_procesados", "loc")

    Sinks.jdbc(df, url, "complex_t", props)
    val back = new JdbcSource(url, props).load(spark, "complex_t")
    assert(back.orderBy("id").as[(Long, String, String)].collect().toSeq === Seq(
      (1L, """["Wifi","Kitchen"]""", """{"_1":"Roma","_2":2}"""),
      (2L, "[]", """{"_1":"Condesa","_2":0}""")))
  }

  test("absent jdbc table loads as an empty frame") {
    val back = new JdbcSource(url, props).load(spark, "no_such_table")
    assert(back.isEmpty)
  }

  test("jdbc overwrite replaces the table like if_exists='replace'") {
    val first = Seq((1L, "a")).toDF("id", "v")
    val second = Seq((10L, "x"), (11L, "y")).toDF("id", "v")
    Sinks.jdbc(first, url, "replace_t", props)
    Sinks.jdbc(second, url, "replace_t", props)
    val back = new JdbcSource(url, props).load(spark, "replace_t")
    assert(back.count() === 2L)
    assert(back.orderBy("id").as[(Long, String)].collect().toSeq ===
      Seq((10L, "x"), (11L, "y")))
  }
}
