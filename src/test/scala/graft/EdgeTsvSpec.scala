package graft

import org.apache.spark.sql.{Column, DataFrame, GraftSqlShim}
import org.apache.spark.sql.functions._
import graft.functions.TsvEdgeExpr
import graft.io.EdgeTsv
import graft.model._

/** Parser golden cases from the reference test suite (FIXTURES.md §"Parser
  * golden cases", `ow-lp/src/lib.rs:847-978`), and a differential check of
  * the native line parser against the column formulation it replaced.
  */
class EdgeTsvSpec extends SparkSpec {
  import spark.implicits._

  private def parseLines(lines: Seq[String], numNodes: Long) = {
    val df = spark.createDataset(lines).toDF("value")
    val parsed = EdgeTsv.parse(df, numNodes).collect()
    val edges = parsed.map(r => (r.getLong(0), r.getLong(1)))
    val seeds = parsed.filter(!_.isNullAt(2)).map(r => (r.getLong(0), r.getLong(2)))
    (edges.toSeq, seeds.toSeq)
  }

  test("invalid lines, out-of-range endpoints, negative labels") {
    val lines = Seq("0\t1\t5", "1\t99\t3", "bad line", "2\t0\t-1", "3\t1")
    val (edges, seeds) = parseLines(lines, 4)
    edges should contain theSameElementsAs Seq((0L, 1L), (2L, 0L), (3L, 1L))
    seeds shouldBe Seq((0L, 5L))
  }

  test("label above u32::MAX dropped, edge kept") {
    val lines = Seq("0\t1\t4294967296", "1\t2\t7")
    val (edges, seeds) = parseLines(lines, 3)
    edges should contain theSameElementsAs Seq((0L, 1L), (1L, 2L))
    seeds shouldBe Seq((1L, 7L))
  }

  test("empty body → nothing") {
    val (edges, seeds) = parseLines(Seq("", "   ", "\t"), 10)
    edges shouldBe empty
    seeds shouldBe empty
  }

  test("endpoint above u32::MAX → line skipped (u32 parse failure)") {
    val (edges, _) = parseLines(Seq("4294967296\t1", "0\t1"), -1)
    edges shouldBe Seq((0L, 1L))
  }

  test("non-integer numerics rejected like Rust parse") {
    val (edges, seeds) = parseLines(Seq("1.5\t2", "0\t2\t3.7", "0\t2\t1e3"), 10)
    edges should contain theSameElementsAs Seq((0L, 2L), (0L, 2L))
    seeds shouldBe empty
  }

  test("seed dedup keeps min label per node") {
    val seeds = spark.createDataset(Seq(
      Seed(4, 90), Seed(2, 50), Seed(4, 70), Seed(2, 60)))
    EdgeTsv.dedupSeeds(seeds).collect().map(s => s.node -> s.label).toMap shouldBe
      Map(2L -> 50L, 4L -> 70L)
  }

  test("TSV roundtrip through files") {
    val dir = java.nio.file.Files.createTempDirectory("edgetsv").toString
    val path = s"$dir/edges.tsv"
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      "0\t1\t100\n1\t2\n2\t0\n".getBytes)
    val edges = EdgeTsv.readEdges(spark, path, 3)
    edges.collect().map(e => (e.src, e.dst)) should contain theSameElementsAs
      Seq((0L, 1L), (1L, 2L), (2L, 0L))
    val seeds = EdgeTsv.readSeeds(spark, path, 3)
    seeds.collect().map(s => (s.node, s.label)) shouldBe Seq((0L, 100L))
  }

  /** The former `EdgeTsv.parse`: split, a regex gate and a cast per field,
    * kept here as the differential oracle. Filter pushdown inlined its
    * aliases, so the Filter and the Project each re-split the line.
    */
  private def columnParse(lines: DataFrame, numNodes: Long): DataFrame = {
    val U32Max = 0xffffffffL
    val parts = split(col("value"), "\t")
    val asLong = (c: Column) => when(c.rlike("^[0-9]{1,18}$"), c.cast("long"))
    val srcC = asLong(get(parts, lit(0)))
    val dstC = asLong(get(parts, lit(1)))
    val third = get(parts, lit(2))
    val rawLabel = when(third.rlike("^-?[0-9]{1,18}$"), third.cast("long"))
    val labelC = when(rawLabel.isNotNull && rawLabel >= 0 && rawLabel <= U32Max, rawLabel)
    val inRange = col("src").isNotNull && col("dst").isNotNull &&
      col("src") >= 0 && col("src") <= U32Max && col("dst") >= 0 && col("dst") <= U32Max
    lines.select(col("id"), srcC.as("src"), dstC.as("dst"), labelC.as("label"))
      .filter(if (numNodes >= 0) inRange && col("src") < numNodes && col("dst") < numNodes
              else inRange)
  }

  private val Numbers = Seq("0", "1", "7", "12", "99", "007", "-0", "-3", "4294967295",
    "4294967296", "999999999999999999", "1000000000000000000")
  private val Noise = Seq("1.5", "1e3", "+1", "-", "", " ", "x", "\u0661", "\uff11", "\n", "\r",
    "\r\n", "\n\n", "\u0085", "\u2028", "\u2029", "\t", "\u00e9")

  /** Lines of 0-4 tab-separated fields; a field is mostly a number,
    * sometimes noise, sometimes a number with noise after it.
    */
  private def randomLines(seed: Long, n: Int): Seq[(Int, String)] = {
    val rng = new scala.util.Random(seed)
    def pick(xs: Seq[String]) = xs(rng.nextInt(xs.size))
    def field = rng.nextInt(10) match {
      case k if k < 6 => pick(Numbers)
      case k if k < 8 => pick(Noise)
      case _ => pick(Numbers) + pick(Noise)
    }
    (0 until n).map(i => i -> Seq.fill(rng.nextInt(5))(field).mkString("\t"))
  }

  test("native line parser equals the column formulation on 60K generated lines") {
    // The oracle runs with ANSI off, the null-on-failure semantics its casts
    // were written for: with ANSI on, digits followed by U+0085, U+2028 or
    // U+2029 passed its regex gate (`$` accepts a final line terminator)
    // and then failed the cast, which threw.
    val ansiOff = GraftSqlShim.sessionWithConfs(spark, "spark.sql.ansi.enabled" -> "false")
    for ((seed, numNodes) <- Seq(11L -> -1L, 12L -> 100L, 13L -> 4294967296L)) {
      val lines = randomLines(seed, 20000)
      // repartition: a Generate straight over a local relation may be
      // evaluated by the optimizer instead of in generated code
      val got = spark.createDataFrame(lines).toDF("id", "value").repartition(4)
        .select(col("id"), inline(TsvEdgeExpr.edges(col("value"), numNodes)))
        .collect().map(_.toSeq)
      val want =
        try {
          org.apache.spark.sql.SparkSession.setActiveSession(ansiOff)
          columnParse(ansiOff.createDataFrame(lines).toDF("id", "value"), numNodes)
            .collect().map(_.toSeq)
        } finally org.apache.spark.sql.SparkSession.setActiveSession(spark)
      withClue(s"seed $seed, numNodes $numNodes: ") {
        got.sortBy(_.head.asInstanceOf[Int]).toSeq shouldBe want.sortBy(_.head.asInstanceOf[Int]).toSeq
        want.length should be > 1000
      }
    }
  }

  test("a field ending in U+0085, U+2028 or U+2029 is malformed, not an error") {
    val (edges, seeds) = parseLines(Seq("1\u0085\t2", "3\t4\u2028", "5\t6\t7\u2029", "8\t9\r\n"), -1)
    edges should contain theSameElementsAs Seq((5L, 6L), (8L, 9L))
    seeds shouldBe empty
  }

  test("each line is parsed once: one native parser, no split or regex in the plan") {
    val path = java.nio.file.Files.createTempFile("edgetsv", ".tsv")
    java.nio.file.Files.write(path, "0\t1\t5\n1\t2\n".getBytes)
    for (df <- Seq(EdgeTsv.readEdges(spark, path.toString, 3).toDF(),
                   EdgeTsv.readSeeds(spark, path.toString, 3).toDF())) {
      val plan = df.queryExecution.optimizedPlan
      val exprs = plan.collect { case p => p.expressions }.flatten
      exprs.flatMap(_.collect { case e: TsvEdgeExpr => e }) should have size 1
      plan.toString should not include "split("
      plan.toString should not include "RLIKE"
    }
  }
}
