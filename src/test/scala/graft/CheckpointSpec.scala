package graft

import graft.algo.{ConnectedComponents, LabelPropagation, PageRank, Paths, Superstep}
import graft.gen.SyntheticGraph
import graft.model._
import org.apache.spark.sql.functions.lit

/** Durable checkpoint + resume: the north rule's "any iteration resumable
  * mid-convergence" requirement (the reference has no equivalent — a failed
  * worker fails the run). A crash is simulated by deleting the newest
  * checkpoints; re-running the SAME entry point must resume from the
  * surviving manifest and converge to the identical per-vertex result.
  */
class CheckpointSpec extends SparkSpec {
  import spark.implicits._

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rm)
    f.delete()
  }

  private def keepOnlyEarliest(dir: String): Int = {
    val iters = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("iter=")).map(_.drop(5).toInt).sorted
    iters.filter(_ > iters.min).foreach(k => rm(new java.io.File(s"$dir/iter=$k")))
    iters.min
  }

  test("LP resumes from a mid-convergence checkpoint to the identical result") {
    val dir = java.nio.file.Files.createTempDirectory("lp-chk").toString
    val edges = spark.createDataset(
      SyntheticGraph.randomEdgesLocal(80, 3, seed = 5L).map { case (s, d) => Edge(s, d) })
    val seeds = spark.createDataset(
      SyntheticGraph.seedsLocal(80).toSeq.map { case (n, l) => Seed(n, l) })
    val cfg = RunConfig(checkpointDir = Some(dir), checkpointEvery = 2)

    val full = LabelPropagation.run(edges, seeds, cfg)
    val expected = full.labels.collect().map(v => v.id -> v.label).toMap
    full.iterations should be > 2

    val Some((latest, json)) = Superstep.latestManifest(spark, dir)
    json should include("\"algo\":\"lp\"")
    json should include("\"perPartitionRows\":[")
    json should include("\"converged\":true")

    val kept = keepOnlyEarliest(dir)
    kept should be < latest

    val resumed = LabelPropagation.run(edges, seeds, cfg)
    resumed.converged shouldBe true
    // resumed run executed only the remaining supersteps
    resumed.iterations should be < full.iterations
    resumed.labels.collect().map(v => v.id -> v.label).toMap shouldBe expected
  }

  test("perPartitionRows holds one count per state partition and sums to rows") {
    val dir = java.nio.file.Files.createTempDirectory("pr-chk-parts").toString
    val edges = spark.createDataset(
      SyntheticGraph.randomEdgesLocal(80, 3, seed = 5L).map { case (s, d) => Edge(s, d) })
    val pr = PageRank.run(edges, maxIter = 2,
      cfg = RunConfig(checkpointDir = Some(dir), checkpointEvery = 1))
    val Some((_, json)) = Superstep.latestManifest(spark, dir)
    val manifest = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    val parts = (0 until manifest.get("perPartitionRows").size)
      .map(i => manifest.get("perPartitionRows").get(i).asLong)
    // the loop runs at the session's shuffle width; its state has that many partitions
    parts.size shouldBe spark.conf.get("spark.sql.shuffle.partitions").toInt
    parts.sum shouldBe manifest.get("rows").asLong
    manifest.get("rows").asLong shouldBe pr.ranks.count()
    pr.release()
  }

  test("a pretty-printed manifest with the same fields resumes") {
    val dir = java.nio.file.Files.createTempDirectory("lp-chk7").toString
    val edges = spark.createDataset(
      SyntheticGraph.randomEdgesLocal(80, 3, seed = 5L).map { case (s, d) => Edge(s, d) })
    val seeds = spark.createDataset(
      SyntheticGraph.seedsLocal(80).toSeq.map { case (n, l) => Seed(n, l) })
    val cfg = RunConfig(checkpointDir = Some(dir), checkpointEvery = 2)
    val full = LabelPropagation.run(edges, seeds, cfg)
    val expected = full.labels.collect().map(v => v.id -> v.label).toMap

    val kept = keepOnlyEarliest(dir)
    val Some((_, json)) = Superstep.latestManifest(spark, dir)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val pretty = mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsString(mapper.readTree(json))
    pretty should include("\"algo\" : \"lp\"") // spaces around the colon
    // rewritten through Hadoop's local FS, which keeps the checksum file
    val mf = new org.apache.hadoop.fs.Path(s"$dir/iter=$kept/manifest.json")
    val out = mf.getFileSystem(spark.sparkContext.hadoopConfiguration).create(mf, true)
    try out.write(pretty.getBytes("UTF-8")) finally out.close()

    val resumed = LabelPropagation.run(edges, seeds, cfg)
    resumed.converged shouldBe true
    resumed.iterations shouldBe full.iterations - kept
    resumed.labels.collect().map(v => v.id -> v.label).toMap shouldBe expected
  }

  test("resume with a converged manifest skips the loop entirely") {
    val dir = java.nio.file.Files.createTempDirectory("lp-chk2").toString
    val edges = spark.createDataset(Seq(Edge(0, 1), Edge(1, 0)))
    val seeds = spark.createDataset(Seq(Seed(0, 100), Seed(1, 200)))
    val cfg = RunConfig(checkpointDir = Some(dir))
    val first = LabelPropagation.run(edges, seeds, cfg)
    val second = LabelPropagation.run(edges, seeds, cfg)
    second.iterations shouldBe 0
    second.converged shouldBe true
    second.labels.collect().map(v => v.id -> v.label).toMap shouldBe
      first.labels.collect().map(v => v.id -> v.label).toMap
  }

  test("resume refuses a checkpoint written by a different algorithm") {
    val dir = java.nio.file.Files.createTempDirectory("lp-chk3").toString
    val edges = spark.createDataset(Seq(Edge(0, 1), Edge(1, 0)))
    val seeds = spark.createDataset(Seq(Seed(0, 100), Seed(1, 200)))
    LabelPropagation.run(edges, seeds, RunConfig(checkpointDir = Some(dir)))
    val ex = intercept[IllegalStateException] {
      PageRank.run(edges, cfg = RunConfig(checkpointDir = Some(dir)))
    }
    ex.getMessage should include("algo 'lp'")
  }

  test("nonzero convergence threshold: manifest records converged, resume is a no-op") {
    val dir = java.nio.file.Files.createTempDirectory("lp-chk4").toString
    val edges = spark.createDataset(
      SyntheticGraph.randomEdgesLocal(60, 3, seed = 3L).map { case (s, d) => Edge(s, d) })
    val seeds = spark.createDataset(Seq(Seed(0L, 100L), Seed(30L, 200L)))
    // threshold high enough that the run converges with changed > 0
    val cfg = RunConfig(checkpointDir = Some(dir), convergenceThreshold = 1000L)
    val first = LabelPropagation.run(edges, seeds, cfg)
    first.converged shouldBe true
    first.stats.last.changed should be > 0L
    val Some((_, json)) = Superstep.latestManifest(spark, dir)
    json should include("\"converged\":true") // changed <= threshold, not <= 0
    val second = LabelPropagation.run(edges, seeds, cfg)
    second.iterations shouldBe 0 // did NOT re-enter the loop and drift
    second.labels.collect().map(v => v.id -> v.label).toMap shouldBe
      first.labels.collect().map(v => v.id -> v.label).toMap
  }

  test("resume refuses a checkpoint written for a different input table") {
    val dir = java.nio.file.Files.createTempDirectory("lp-chk5").toString
    val seeds = spark.createDataset(Seq(Seed(0L, 100L), Seed(30L, 200L)))
    val cfg = RunConfig(checkpointDir = Some(dir), checkpointEvery = 1)
    val edgesA = spark.createDataset(
      SyntheticGraph.randomEdgesLocal(80, 3, seed = 5L).map { case (s, d) => Edge(s, d) })
    LabelPropagation.run(edgesA, seeds, cfg)
    // same node universe, different topology → different input fingerprint
    val edgesB = spark.createDataset(
      SyntheticGraph.randomEdgesLocal(80, 3, seed = 6L).map { case (s, d) => Edge(s, d) })
    val ex = intercept[IllegalStateException] {
      LabelPropagation.run(edgesB, seeds, cfg)
    }
    ex.getMessage should include("fingerprint")
  }

  test("ratio-converged run durably checkpoints its final state; resume is a no-op") {
    val dir = java.nio.file.Files.createTempDirectory("lp-chk6").toString
    val edges = spark.createDataset(
      SyntheticGraph.randomEdgesLocal(60, 3, seed = 3L).map { case (s, d) => Edge(s, d) })
    val seeds = spark.createDataset(Seq(Seed(0L, 100L), Seed(30L, 200L)))
    // loose ratio: stops while changed > 0 — the absolute rule alone would
    // neither exit nor gate the checkpoint write here
    val cfg = RunConfig(checkpointDir = Some(dir), convergenceRatio = Some(0.9))
    val first = LabelPropagation.run(edges, seeds, cfg)
    first.converged shouldBe true
    val Some((_, json)) = Superstep.latestManifest(spark, dir)
    json should include("\"converged\":true")
    val second = LabelPropagation.run(edges, seeds, cfg)
    second.iterations shouldBe 0 // did NOT re-enter the loop and drift
    second.labels.collect().map(v => v.id -> v.label).toMap shouldBe
      first.labels.collect().map(v => v.id -> v.label).toMap
  }

  test("zero checkpointEvery is rejected up front") {
    val edges = spark.createDataset(Seq(Edge(0, 1)))
    val seeds = spark.createDataset(Seq(Seed(0, 1)))
    intercept[IllegalArgumentException] {
      LabelPropagation.run(edges, seeds, RunConfig(checkpointEvery = 0))
    }
  }

  test("SSSP resumes from a mid-convergence checkpoint to the identical result") {
    val dir = java.nio.file.Files.createTempDirectory("sssp-chk").toString
    // a long weighted chain plus shortcuts: needs many relaxation rounds
    val chain = (0L until 40L).map(i => WEdge(i, i + 1, 1.0 + (i % 3)))
    val shortcuts = (0L until 40L by 8).map(i => WEdge(i, i + 8, 20.0))
    val edges = spark.createDataset(chain ++ shortcuts)
    val cfg = RunConfig(checkpointDir = Some(dir), checkpointEvery = 3,
      maxIter = Int.MaxValue)

    val full = graft.algo.Paths.sssp(edges, 0L, cfg)
    val expected = full.dists.collect().map(v => v.id -> v.dist).toMap
    full.iterations should be > 3

    val Some((latest, json)) = Superstep.latestManifest(spark, dir)
    json should include("\"algo\":\"sssp\"")
    json should include("\"converged\":true")

    val kept = keepOnlyEarliest(dir)
    kept should be < latest

    val resumed = graft.algo.Paths.sssp(edges, 0L, cfg)
    resumed.converged shouldBe true
    resumed.iterations should be < full.iterations // only the remaining rounds
    resumed.dists.collect().map(v => v.id -> v.dist).toMap shouldBe expected
  }

  test("SSSP resume refuses a mutated edge table or a different source") {
    val dir = java.nio.file.Files.createTempDirectory("sssp-chk2").toString
    val cfg = RunConfig(checkpointDir = Some(dir), checkpointEvery = 1,
      maxIter = Int.MaxValue)
    val edgesA = spark.createDataset(
      (0L until 30L).map(i => WEdge(i, i + 1, 1.0)))
    graft.algo.Paths.sssp(edgesA, 0L, cfg)
    // same universe, one weight changed → different fingerprint
    val edgesB = spark.createDataset(
      WEdge(0L, 1L, 2.0) +: (1L until 30L).map(i => WEdge(i, i + 1, 1.0)))
    val ex = intercept[IllegalStateException] {
      graft.algo.Paths.sssp(edgesB, 0L, cfg)
    }
    ex.getMessage should include("fingerprint")
    // identical table, different source vertex → also refused
    val ex2 = intercept[IllegalStateException] {
      graft.algo.Paths.sssp(edgesA, 5L, cfg)
    }
    ex2.getMessage should include("fingerprint")
    // BFS must not resume an SSSP checkpoint (different algo tag)
    val ex3 = intercept[IllegalStateException] {
      graft.algo.Paths.bfs(spark.createDataset(
        (0L until 30L).map(i => Edge(i, i + 1))), 0L, cfg = cfg)
    }
    ex3.getMessage should include("algo 'sssp'")
  }

  test("BFS resumes mid-convergence on its own algo tag") {
    val dir = java.nio.file.Files.createTempDirectory("bfs-chk").toString
    val cfg = RunConfig(checkpointDir = Some(dir), checkpointEvery = 2)
    val edges = spark.createDataset(
      (0L until 25L).map(i => Edge(i, i + 1)) ++ Seq(Edge(0L, 30L), Edge(30L, 31L)))
    val full = graft.algo.Paths.bfs(edges, 0L, cfg = cfg)
    val expected = full.dists.collect().map(v => v.id -> v.dist).toMap
    full.iterations should be > 2
    val Some((_, json)) = Superstep.latestManifest(spark, dir)
    json should include("\"algo\":\"bfs\"")
    keepOnlyEarliest(dir)
    val resumed = graft.algo.Paths.bfs(edges, 0L, cfg = cfg)
    resumed.iterations should be < full.iterations
    resumed.dists.collect().map(v => v.id -> v.dist).toMap shouldBe expected
  }

  test("PageRank resumes mid-convergence with its frontier intact") {
    val dir = java.nio.file.Files.createTempDirectory("pr-chk").toString
    val edges = spark.createDataset(
      SyntheticGraph.randomEdgesLocal(60, 3, seed = 9L).map { case (s, d) => Edge(s, d) })
    val cfg = RunConfig(checkpointDir = Some(dir), checkpointEvery = 3)
    val full = PageRank.run(edges, cfg = cfg)
    val expected = full.ranks.collect().map(r => r.id -> r.rank).toMap

    keepOnlyEarliest(dir)
    val resumed = PageRank.run(edges, cfg = cfg)
    val got = resumed.ranks.collect().map(r => r.id -> r.rank).toMap
    got.keySet shouldBe expected.keySet
    got.foreach { case (k, v) => v shouldBe expected(k) +- 1e-9 }
  }

  test("CC resumes mid-convergence to identical components") {
    val dir = java.nio.file.Files.createTempDirectory("cc-chk").toString
    // a path needs diameter-many min-propagation rounds
    val edges = spark.createDataset(
      (0L until 20L).map(i => Edge(i + 1, i)) ++ Seq(Edge(40L, 41L), Edge(42L, 41L)))
    val cfg = RunConfig(checkpointDir = Some(dir), checkpointEvery = 3, maxIter = Int.MaxValue)
    val full = ConnectedComponents.run(edges, cfg)
    val expected = full.components.collect().map(c => c.id -> c.component).toMap
    full.iterations should be > 3

    val Some((latest, json)) = Superstep.latestManifest(spark, dir)
    json should include("\"algo\":\"cc\"")
    json should include("\"converged\":true")
    val kept = keepOnlyEarliest(dir)
    kept should be < latest

    val resumed = ConnectedComponents.run(edges, cfg)
    resumed.iterations should be < full.iterations // only the remaining rounds
    resumed.components.collect().map(c => c.id -> c.component).toMap shouldBe expected
    full.release(); resumed.release()
  }

  test("LP, PR, CC, star CC and SSSP refuse another algorithm's checkpoint and keep nothing cached") {
    val dir = java.nio.file.Files.createTempDirectory("bfs-chk-foreign").toString
    val edges = spark.createDataset(
      SyntheticGraph.randomEdgesLocal(60, 3, seed = 4L).map { case (s, d) => Edge(s, d) })
    Paths.bfs(edges, 0L, cfg = RunConfig(checkpointDir = Some(dir))).release()
    val cfg = RunConfig(checkpointDir = Some(dir))
    val weighted = edges.select($"src", $"dst", lit(1.0).as("weight")).as[WEdge]
    Seq[(String, () => Unit)](
      "lp" -> (() => LabelPropagation.run(edges, spark.createDataset(Seq(Seed(0L, 7L))), cfg)),
      "pagerank" -> (() => PageRank.run(edges, cfg = cfg)),
      "cc" -> (() => ConnectedComponents.run(edges, cfg)),
      "cc_star" -> (() => ConnectedComponents.runStar(edges, cfg = cfg)),
      "sssp" -> (() => Paths.sssp(weighted, 0L, cfg))
    ).foreach { case (algo, run) =>
      withClue(s"$algo: ") {
        val before = spark.sparkContext.getPersistentRDDs.size
        val ex = intercept[IllegalStateException](run())
        ex.getMessage should include(s"algo 'bfs', not '$algo'")
        spark.sparkContext.getPersistentRDDs.size shouldBe before
      }
    }
  }
}
