package crawlbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sites.SyntheticWeb
import graft.sources.Warc
import graft.state.Store

/** Seeded benchmark inputs, built once per run in set-up (outside the
  * timed region) and shared by every open, the warm-up and every pass
  * of that run. They are not kept between runs: each run builds them
  * with the code under test, so set-up time always includes the build
  * and never serves inputs written by other code.
  */
final class Inputs(spark: SparkSession, workDir: Path, nproc: Int) {

  private val dir = Files.createDirectories(workDir.resolve("inputs"))

  private def fresh(kind: String): Path = {
    val out = dir.resolve(kind)
    Inputs.deleteTree(out)
    out
  }

  /** The spec's pages as (url, html) rows, generated on the executors. */
  def pageRows(spec: SyntheticWeb.Spec): DataFrame = {
    import spark.implicits._
    val specB = spark.sparkContext.broadcast(spec)
    spark.range(0, spec.numPages, 1, nproc).as[Long].mapPartitions { it =>
      val sp = specB.value
      it.map(i => (SyntheticWeb.pageUrl(sp, i),
        SyntheticWeb.htmlFor(sp, i).getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    }.toDF("url", "html")
  }

  /** Bucketed parquet corpus (url, html), clustered and sorted by url so
    * the engine's fetch join never shuffles the html side. Returns the
    * corpus registered as the table `name`.
    */
  def parquetCorpus(spec: SyntheticWeb.Spec, name: String): DataFrame = {
    val out = fresh("corpus")
    val build = s"crawlbench_build_${System.nanoTime()}"
    pageRows(spec).repartition(nproc, col("url"))
      .write.bucketBy(nproc, "url").sortBy("url")
      .option("path", out.toString).saveAsTable(build)
    spark.sql(s"DROP TABLE IF EXISTS $build")
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(
      s"""CREATE TABLE $name (url STRING, html BINARY) USING parquet
         | CLUSTERED BY (url) SORTED BY (url) INTO $nproc BUCKETS
         | LOCATION '$out'""".stripMargin)
    spark.table(name)
  }

  /** Member-gzip WARC archive of the spec's pages with its write-time
    * CDX index: the layout `Warc.rangedFetcher` reads.
    */
  def warcArchive(spec: SyntheticWeb.Spec): Path = {
    val out = fresh("warc")
    Warc.writePagesArchive(pageRows(spec), out.toString, nFiles = nproc)
    out
  }
}

object Inputs {

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Store.deleteRecursively(p)

  def treeBytes(p: Path): Long = {
    val walk = Files.walk(p)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally walk.close()
  }

  /** Live segment count per table, read from the store's manifest. */
  def segmentCounts(root: Path): Map[String, Int] = {
    val json = new String(Files.readAllBytes(root.resolve("_manifest.json")), "UTF-8")
    Store.parseManifest(json)._2.map { case (t, dirs) => t -> dirs.size }
  }
}
