package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SQL entry point — the reference delegates analyst queries to Athena
  * over the Gold layer (SURVEY.md §3.2); here the same surface is
  * `spark.sql` over registered temp views of the testdata tables.
  */
object Sql {

  /** Register every testdata table as a temp view named after itself. */
  def registerTables(spark: SparkSession, dir: String): Unit = {
    Tables.names.foreach { n =>
      val df = if (n == "events") Tables.events(spark, dir) else Tables.load(spark, dir, n)
      df.createOrReplaceTempView(n)
    }
  }

  def query(spark: SparkSession, dir: String, sql: String): DataFrame = {
    registerTables(spark, dir)
    spark.sql(sql)
  }
}
