package graft

import org.apache.spark.sql.SparkSession

/** SQL-surface helper: registers every fixture table as a temp view
  * (plus the graft functions), after which the whole engine is usable
  * from `spark.sql(...)` — the layer the reference never had
  * (SURVEY.md §2.2 "no SQL/parser layer").
  */
object Catalog {
  def registerViews(spark: SparkSession, sfDir: String): Unit = {
    GraftExtensions.register(spark)
    // events needs the nanos-as-long read conf BEFORE its footer is
    // read — go through Tables.events, never the generic loader
    Tables.events(spark, sfDir).createOrReplaceTempView("events")
    Tables.all.filterNot(_ == "events").foreach { t =>
      Tables.load(spark, sfDir, t).createOrReplaceTempView(t)
    }
  }
}
