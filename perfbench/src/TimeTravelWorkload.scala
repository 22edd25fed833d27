package perfbench

import java.nio.file.Path

import scala.collection.mutable

import graft.api.Endpoints
import graft.git.{GitCli, GitHistory}
import graft.graph.{CodeGraph, GraphQueries, GraphStore, Paths}
import graft.ingest.{DependencyExpansion, Ingestor}

/** Writes beside reads on one graph: `analyze_repo` builds the commit graph
  * of a pinned `asyncio` history, then one client alternates `switch_commit`
  * to a seeded commit with a short read burst. */
object TimeTravelWorkload extends Workload {

  val Repo = "asyncio_history"
  val Cycles = 3
  val Prefixes = Seq("get", "run", "_c", "Task", "sel")

  /** The graph's File set must equal `git ls-tree` of the commit it claims. */
  def checkFiles(c: Ctx, store: GraphStore, repoDir: Path, commit: String): Unit =
    c.rec.check("timetravel.file_set") {
      val want = Inputs.lsTree(repoDir, commit).filter(_.endsWith(".py"))
      val have = GraphChecks.filePaths(store.load(Repo))
      require(have == want, s"at $commit the graph has ${(have -- want).size} extra and " +
        s"${(want -- have).size} missing files (e.g. ${((have -- want) ++ (want -- have)).take(3)})")
    }

  /** `analyze_repo`'s steps (GitHistory.analyzeRepo, then buildCommitGraph),
    * each in its own span. */
  def tracedAnalyzeRepo(c: Ctx, store: GraphStore, repoDir: Path): Unit = {
    val tr = c.tracer
    val g = new CodeGraph(c.spark, Repo, Some(store))
    val sources = tr.span("ingest.read_sources")(GitHistory.readSources(repoDir.toString))
    tr.span("ingest.ingest")(Ingestor.ingest(g, sources ++
      DependencyExpansion.expandAll(repoDir, sources)))
    tr.span("history.checkpoint")(g.checkpointNow())
    tr.span("history.save")(g.save())
    store.setInfo(Repo, Map("commit" -> GitCli.headCommit(repoDir.toString).hash))
    tr.span("git.build")(GitHistory.buildCommitGraph(c.spark, store, repoDir.toString, Repo))
  }

  /** `switch_commit`'s steps (GitHistory.switchCommit), each in its own
    * span; returns the number of replayed transitions. */
  def tracedSwitch(c: Ctx, store: GraphStore, to: String): Int = c.tracer.span("git.switch") {
    val tr = c.tracer
    val current = store.getInfo(Repo)("commit")
    if (current == to) 0
    else {
      val gitG = new CodeGraph(c.spark, GitHistory.gitRepoName(Repo), Some(store))
      val steps = tr.span("graph.chain_transitions") {
        val rows = GraphQueries.getCommits(gitG.graph, Seq(current, to)).collect()
        require(rows.length == 2, "Commits not found")
        val byHash = rows.map(r => r.getAs[String]("hash") -> r).toMap
        val (cur, next) = (byHash(current), byHash(to))
        val rel = if (cur.getAs[Long]("date") > next.getAs[Long]("date")) "PARENT" else "CHILD"
        Paths.chainTransitions(gitG.graph, cur.getAs[Long]("id"), next.getAs[Long]("id"), rel)
          .collect().sortBy(_.getAs[Int]("step"))
      }
      val g = new CodeGraph(c.spark, Repo, Some(store))
      tr.span("graph.replay")(steps.foreach { row =>
        Option(row.getAs[scala.collection.Seq[String]]("queries")).getOrElse(Nil).foreach(g.rerun)
      })
      tr.span("graph.checkpoint")(g.checkpointNow())
      tr.span("graph.save")(g.save())
      store.setInfo(Repo, Map("commit" -> to))
      steps.length
    }
  }

  def run(c: Ctx): Outcome = {
    val warm = Inputs.WarmTree.stage(c.opts.work.resolve("warm").resolve("warmtree"))
    // warm the JIT on the small tree, then set up: build the pinned history
    // in a fresh directory
    val w0 = System.nanoTime()
    val r = new Endpoints(c.spark, c.freshStore()).analyzeFolder(Some(warm.toString))
    require(r.code == 200, s"warm-up analyze_folder failed: ${r.json}")
    c.info("warmup_s") = (System.nanoTime() - w0) / 1e9
    val (repoDir, hashes) = c.setup(3) { i =>
      val dir = c.opts.work.resolve(s"history-$i").resolve(Repo)
      (dir, Inputs.buildHistory(dir))
    }
    val store = c.freshStore()
    val ep = new Endpoints(c.spark, store)
    val built =
      if (c.tracing) {
        c.tracer.attach()
        val r = c.rec.op("analyze_repo")(tracedAnalyzeRepo(c, store, repoDir))(_ => ())
        c.tracer.detach()
        r.isDefined
      } else
        c.rec.op("analyze_repo")(ep.analyzeRepo(Some(repoDir.toString)))(r =>
          require(r.code == 200 && r.status == "success", r.json)).isDefined
    if (!built) throw new IllegalStateException(s"analyze_repo failed: ${c.rec.failures.last}")
    checkFiles(c, store, repoDir, hashes.last)

    val switchMs = mutable.ArrayBuffer.empty[Double]
    val tracedMs = mutable.ArrayBuffer.empty[Double]
    val firstRead = mutable.ArrayBuffer.empty[Double]
    val steps = mutable.ArrayBuffer.empty[Double]
    var current = hashes.last
    val read = new BrowseWorkload.Direct(ep, Repo)
    var cycleMs = 0.0
    // a fixed number of cycles, not a time window: every switch grows the
    // op-log state and the heap, so runs compare only at equal counts
    (0 until Cycles).foreach { i =>
      val to = c.rng.shuffle(hashes.filter(_ != current)).head
      val traced = c.tracing && i % 2 == 1
      val kind = if (traced) "switch_commit_traced" else "switch_commit"
      val done =
        if (traced) {
          c.tracer.attach()
          val r = c.rec.op(kind)(tracedSwitch(c, store, to))(n => steps += n.toDouble)
          c.tracer.detach()
          r.isDefined
        } else
          c.rec.op(kind)(ep.switchCommit(Some(Repo), Some(to)))(r =>
            require(r.code == 200 && r.status == "success", r.json)).isDefined
      if (done) {
        current = to
        val ms = c.rec.latencies(kind).last
        (if (traced) tracedMs else switchMs) += ms
        if (!traced) cycleMs += ms
        // the read burst: its first read must already see the new snapshot
        val prefix = Prefixes(c.rng.nextInt(Prefixes.size))
        Seq(Req("repo_info"), Req("auto_complete", prefix = prefix), Req("graph_entities"))
          .zipWithIndex.foreach { case (r, k) =>
            c.rec.op(r.op)(read.call(r))(BrowseWorkload.check(r, _, nodes = None)).foreach { _ =>
              val readMs = c.rec.latencies(r.op).last
              if (k == 0) firstRead += readMs
              if (!traced) cycleMs += readMs
            }
          }
        checkFiles(c, store, repoDir, to)
      }
    }
    c.put(c.product, "history_build_s", c.med(c.rec.latencies("analyze_repo")) / 1000, "s")
    c.put(c.product, "switch_commit_p50_s", c.med(switchMs.toSeq) / 1000, "s")
    c.put(c.product, "read_after_switch_p50_ms", c.med(firstRead.toSeq), "ms")
    c.put(c.product, "auto_complete_p50_ms", c.med(c.rec.latencies("auto_complete")), "ms")
    c.put(c.product, "repo_info_p50_ms", c.med(c.rec.latencies("repo_info")), "ms")
    c.info("commits") = hashes
    if (c.tracing) {
      val tr = c.tracer
      Layers.ingest(c, tr)
      val buildJobs = tr.counters.of("git.build").jobs
      c.put(c.layer, "git.build_jobs", buildJobs.toDouble, "count")
      c.put(c.layer, "git.switch_steps", c.med(steps.toSeq), "count")
      val switchSpans = Seq("git.switch", "graph.chain_transitions", "graph.replay",
        "graph.checkpoint", "graph.save")
      val switches = math.max(1, tr.samples("git.switch").size)
      c.put(c.layer, "git.switch_jobs",
        switchSpans.map(tr.counters.of(_).jobs).sum.toDouble / switches, "count")
      c.put(c.layer, "graph.stored_bytes",
        Ingest.bytesUnder(java.nio.file.Paths.get(store.warehouse, Repo)).toDouble, "bytes")
      Layers.overhead(c, switchMs.toSeq, tracedMs.toSeq)
      Layers.spark(c, 1 + tracedMs.size)
    }
    Outcome(switchMs.toSeq, switchMs.size.toLong, cycleMs / 1000)
  }
}
