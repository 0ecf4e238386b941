package graftbench

import java.nio.file.Files

import graft.Graft
import graft.sources.Warehouse
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The listener attributes a job to the engine file whose call started its
  * SQL execution: a dimension write through `Warehouse.writeDim` lands on
  * Warehouse.scala, including the jobs that run on other threads. */
class AttributionSpec extends AnyFunSuite {
  test("execution-id attribution assigns a known write to Warehouse.scala") {
    val spark: SparkSession = Graft.builder("2").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      import spark.implicits._
      val dir = Files.createTempDirectory("attribution").resolve("dim").toString
      val dim = Seq(("a", 1), ("b", 2)).toDF("value", "id")
      val counts = new Counts
      counts.attach(spark)
      Warehouse.writeDim(dim, dir)
      counts.detach(spark)
      val sites = counts.jobs.toSeq.map(counts.site)
      assert(sites.nonEmpty)
      assert(sites.forall(_.matches(".*\\(Warehouse\\.scala:\\d+\\)")), sites)
      assert(spark.read.parquet(dir).count() == 2)
    } finally spark.stop()
  }
}
