package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.graph.{LinkGraph, PageRank}
import graft.operators.Checkpointing
import graft.sources.WikiPageRankPipeline

/** One timed call into the program. `build` and `exec` run inside the
  * timed window (their split feeds `queries.build_s` and
  * `queries.exec_s`); `check` runs after the pass, outside it, and
  * leaves what `exec` returned where the correctness check reads it.
  */
final case class Step(name: String, layer: String, build: () => Any,
    exec: Any => Any, check: (Any, String) => Unit)

trait Workload {
  /** The steps of pass `k`. A traced pass may split the work into
    * finer steps than an untraced one; both produce the same output.
    */
  def steps(k: Int, traced: Boolean): Seq[Step]
  /** Units of input one pass processes (pages or queries). */
  def items: Long
  /** Oracle SQL per query name, for the correctness check. */
  def oracles: Map[String, String] = Map.empty
}

/** The reference pipeline, file to file: the untraced pass is one call
  * to `WikiPageRankPipeline.execute`; the traced pass makes the same
  * calls phase by phase, each phase materialised through
  * `Checkpointing.cut` so its span holds its own jobs.
  */
final class WikiWorkload(spark: SparkSession, in: String, outRoot: String,
    pages: Long, iterations: Int) extends Workload {
  def items: Long = pages
  private def out(k: Int) = s"$outRoot/p$k"
  private val noCheck: (Any, String) => Unit = (_, _) => ()

  def steps(k: Int, traced: Boolean): Seq[Step] =
    if (!traced) Seq(Step("wiki.pipeline", "sources",
      () => WikiPageRankPipeline.execute(spark, in, out(k), iterations),
      _ => (), noCheck))
    else {
      var nonEmpty: DataFrame = null
      var n = 0L
      var links: DataFrame = null
      var ranks: DataFrame = null
      Seq(
        Step("sources.scan", "sources", () => {
          nonEmpty = spark.read.text(in).filter(length(trim(col("value"))) > 0)
          n = nonEmpty.count()
        }, _ => (), noCheck),
        Step("graph.extract", "graph", () => {
          links = Checkpointing.cut(LinkGraph.parseWikiPages(nonEmpty, "value")
            .select(col("title").as("src"), col("outlink").as("dst")))
        }, _ => (), noCheck),
        Step("graph.pagerank", "graph", () => {
          val titles = links.select(col("src").as("node")).distinct()
          ranks = Checkpointing.cut(
            PageRank.runOnPages(titles, links, n, iterations, 0.85))
        }, _ => (), noCheck),
        // The sort and write are the pipeline's "exec": they consume
        // the ranks the three phases above built.
        Step("sources.write", "sources", () => (), _ =>
          ranks.orderBy(col("rank").desc, col("node"))
            .select(concat_ws("\t", col("node"),
              format_number(col("rank"), 10)).as("value"))
            .coalesce(1)
            .write.mode(SaveMode.Overwrite).text(out(k)), noCheck))
    }
}

/** Named queries from `SparkEntry.queries` on the corpus directory, in
  * the given order. Each step builds the DataFrame (the eager cuts run
  * here) and then collects it, which materialises every output column
  * and hands the rows to the check without running the query again.
  */
final class CorpusWorkload(spark: SparkSession, dir: String,
    names: Seq[String]) extends Workload {
  def items: Long = names.size.toLong
  private val entries = SparkEntry.queries
  override def oracles: Map[String, String] =
    SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) }

  def steps(k: Int, traced: Boolean): Seq[Step] = names.map { name =>
    Step(s"q.$name", "queries",
      () => entries(name)(spark, dir),
      { df =>
        val d = df.asInstanceOf[DataFrame]
        (d.schema, d.collect())
      },
      { (result, outDir) =>
        val (schema, rows) = result.asInstanceOf[(StructType, Array[Row])]
        RowsFile.write(schema, rows, s"$outDir/p$k/$name.tsv")
      })
  }
}

/** Collected rows as text for the check: a header of `name:type`
  * fields, then one line per row. Fields are tab-separated; null is
  * `\N`; floating-point values are written as the exact double
  * (`Double.toString` round-trips); backslash, tab and newline in
  * strings are escaped.
  */
object RowsFile {
  private def escape(s: String): String =
    s.replace("\\", "\\\\").replace("\t", "\\t").replace("\n", "\\n")
      .replace("\r", "\\r")

  def write(schema: StructType, rows: Array[Row], path: String): Unit = {
    val sb = new StringBuilder
    sb.append(schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}")
      .mkString("\t")).append('\n')
    rows.foreach { r =>
      sb.append(schema.fields.indices.map { i =>
        if (r.isNullAt(i)) "\\N"
        else r.get(i) match {
          case d: java.lang.Double => java.lang.Double.toString(d)
          case f: java.lang.Float => java.lang.Double.toString(f.doubleValue)
          case v => escape(v.toString)
        }
      }.mkString("\t")).append('\n')
    }
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.write(p, sb.toString.getBytes(UTF_8))
  }
}
