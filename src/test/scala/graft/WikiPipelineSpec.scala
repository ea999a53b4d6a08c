package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.sources.WikiPageRankPipeline

/** Drives the reference-compatible file→file pipeline end-to-end:
  * wiki text in, tab-separated descending ranks out.
  */
class WikiPipelineSpec extends SparkSpec {

  test("text in -> ranked text out, reference page semantics") {
    val dir = Files.createTempDirectory("wiki")
    val in = dir.resolve("pages.txt")
    // b <- a, c <- a; d is a dangling TARGET (no page of its own) so
    // b's contribution to it must be dropped; c links back to a; e is
    // a page nobody links to.
    Files.write(in, Seq(
      "<title>a</title> <text>[[b]] [[c]]</text>",
      "<title>b</title> <text>[[d]]</text>",
      "",
      "<title>c</title> <text>[[a]]</text>",
      "<title>e</title> <text>[[a]]</text>").asJava)
    val out = dir.resolve("ranks").toString

    val n = WikiPageRankPipeline.execute(spark, in.toString, out)
    assert(n == 4) // the empty line is not a page

    val lines = Files.list(Paths.get(out)).iterator().asScala
      .filter(_.toString.endsWith(".txt")).flatMap(p =>
        Files.readAllLines(p).asScala).toSeq
    assert(lines.size == 4)
    val parsed = lines.map { l =>
      val Array(node, rank) = l.split("\t"); node -> rank.toDouble
    }
    // Descending by rank.
    assert(parsed.map(_._2).sliding(2).forall(w => w.head >= w.last))
    val ranks = parsed.toMap
    // a receives from c and e; b and c receive only from a (0.15-seeded
    // chain). b == c by symmetry.
    assert(ranks("b") == ranks("c"))
    assert(ranks("a") > ranks("b"))
    // No in-links: exactly the teleport term. The dangling target
    // never becomes a row.
    assert(ranks("e") == 0.15)
    assert(!ranks.contains("d"))
  }
}
