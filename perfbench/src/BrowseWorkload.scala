package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.functions.{array_contains, col}

import graft.api.{Endpoints, HttpApi}
import graft.graph.{GraphQueries, GraphStore, Paths}

/** One UI request: the endpoint and its parameters. */
final case class Req(op: String, prefix: String = "", ids: Seq[Long] = Nil,
    src: Long = 0L, dest: Long = 0L)

/** What the seed draws from: searchable names, function ids, and pairs of
  * functions joined by a CALLS edge, split into [[BrowseWorkload.Strata]]
  * strata by how many functions the source reaches over CALLS (what
  * `find_paths` expands), smallest reach first. */
final case class BrowseInputs(names: IndexedSeq[String], functionIds: IndexedSeq[Long],
    pairStrata: IndexedSeq[IndexedSeq[(Long, Long)]])

/** Read-only interactive path: a closed loop of UI sessions against the
  * stdlib graph through `HttpApi` on loopback. */
object BrowseWorkload extends Workload {

  val Repo = Ingest.Project
  val Clients = Main.cores
  private val mapper = new ObjectMapper()

  def inputs(store: GraphStore): BrowseInputs = {
    val g = store.load(Repo)
    val names = g.nodes.filter(array_contains(col("labels"), "Searchable") && col("name").isNotNull)
      .select("name").distinct().collect().map(_.getString(0)).filter(_.length >= 3).sorted
    val fns = g.nodes.filter(array_contains(col("labels"), "Function")).select("id")
    val fnIds = fns.collect().map(_.getLong(0)).sorted
    val pairs = g.edges.filter(col("type") === "CALLS" && col("src") =!= col("dst"))
      .join(fns.withColumnRenamed("id", "src"), "src")
      .join(fns.withColumnRenamed("id", "dst"), "dst")
      .select("src", "dst").distinct().collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    require(names.nonEmpty && fnIds.nonEmpty && pairs.length >= Strata, "browse inputs are empty")
    val next = g.edges.filter(col("type") === "CALLS").select("src", "dst").collect()
      .groupMap(_.getLong(0))(_.getLong(1))
    def reach(from: Long): Int = {
      val seen = scala.collection.mutable.HashSet(from)
      var frontier = List(from)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(n => next.getOrElse(n, Array.empty[Long])).filter(seen.add)
      }
      seen.size
    }
    val reachOf = pairs.map(_._1).distinct.map(s => s -> reach(s)).toMap
    val ranked = pairs.sortBy(p => (reachOf(p._1), p)).toIndexedSeq
    val strata = (0 until Strata).map(i =>
      ranked.slice(i * ranked.size / Strata, (i + 1) * ranked.size / Strata))
    BrowseInputs(names.toIndexedSeq, fnIds.toIndexedSeq, strata)
  }

  /** Strata of `find_paths` pairs. A client's k-th session draws from
    * stratum k mod Strata, so every run sends the same mix of short and long
    * expansions and the seed picks which pairs. */
  val Strata = 4

  /** One UI session: open the graph, type a name one character at a time,
    * expand the first completions, find paths along a CALLS edge from
    * stratum `k`, read the repo info. [[replay]] swaps the seeded
    * `get_neighbors` ids for those the last completion returned, if any. */
  def session(in: BrowseInputs, rng: scala.util.Random, k: Int): Seq[Req] = {
    val name = in.names(rng.nextInt(in.names.size))
    val typed = (1 to math.min(4, name.length)).map(n => Req("auto_complete", prefix = name.take(n)))
    val seeded = Seq.fill(3)(in.functionIds(rng.nextInt(in.functionIds.size))).distinct
    val stratum = in.pairStrata(k % Strata)
    val (s, d) = stratum(rng.nextInt(stratum.size))
    Seq(Req("graph_entities")) ++ typed ++
      Seq(Req("get_neighbors", ids = seeded), Req("find_paths", src = s, dest = d), Req("repo_info"))
  }

  /** Ids from a completion response, to expand next. */
  def completionIds(json: JsonNode): Seq[Long] =
    Option(json.get("completions")).toSeq.flatMap(_.elements().asScala)
      .map(_.get("id").asLong()).take(3)

  // ---- transports ----------------------------------------------------------

  trait Transport { def call(r: Req): (Int, String) }

  final class Http(port: Int, repo: String = Repo) extends Transport {
    private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    private val base = s"http://127.0.0.1:$port"
    def call(r: Req): (Int, String) = {
      val b = HttpRequest.newBuilder()
      val req = r.op match {
        case "graph_entities" =>
          b.uri(URI.create(s"$base/graph_entities?repo=$repo")).GET().build()
        case op => b.uri(URI.create(s"$base/$op"))
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(body(r))).build()
      }
      val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    }
    private def body(r: Req): String = {
      val n = mapper.createObjectNode()
      n.put("repo", repo)
      r.op match {
        case "auto_complete" => n.put("prefix", r.prefix)
        case "get_neighbors" => val a = n.putArray("node_ids"); r.ids.foreach(a.add(_))
        case "find_paths" => n.put("src", r.src); n.put("dest", r.dest)
        case _ => ()
      }
      mapper.writeValueAsString(n)
    }
  }

  final class Direct(ep: Endpoints, repo: String = Repo) extends Transport {
    def call(r: Req): (Int, String) = {
      val resp = r.op match {
        case "graph_entities" => ep.graphEntities(Some(repo))
        case "auto_complete" => ep.autoComplete(Some(repo), Some(r.prefix))
        case "get_neighbors" => ep.getNeighbors(Some(repo), Some(r.ids))
        case "find_paths" => ep.findPaths(Some(repo), Some(r.src), Some(r.dest))
        case "repo_info" => ep.repoInfo(Some(repo))
      }
      (resp.code, resp.json)
    }
  }

  // ---- output checks -------------------------------------------------------

  /** Checks one response; `nodes` is the node count repo_info must report. */
  def check(r: Req, resp: (Int, String), nodes: Option[Long] = Some(Inputs.CorpusNodes)): JsonNode = {
    val (code, body) = resp
    require(code == 200, s"${r.op} returned HTTP $code: ${body.take(200)}")
    val j = mapper.readTree(body)
    require(j.path("status").asText() == "success", s"${r.op} status: ${body.take(200)}")
    r.op match {
      case "auto_complete" =>
        val names = j.path("completions").elements().asScala.map(_.path("properties").path("name").asText()).toSeq
        require(names.size <= 10, s"auto_complete returned ${names.size} > 10 names")
        names.foreach(n => require(n.startsWith(r.prefix), s"completion '$n' lacks prefix '${r.prefix}'"))
      case "get_neighbors" =>
        val asked = r.ids.toSet
        j.path("neighbors").path("edges").elements().asScala.foreach { e =>
          require(asked(e.path("src_node").asLong()) || asked(e.path("dest_node").asLong()),
            s"neighbor edge $e touches none of $asked")
        }
      case "find_paths" =>
        val paths = j.path("paths").elements().asScala.toSeq
        require(paths.nonEmpty, s"no path ${r.src} -> ${r.dest} although a CALLS edge joins them")
        paths.foreach { p =>
          val items = p.elements().asScala.toIndexedSeq
          require(items.size % 2 == 1, s"path of even length ${items.size}")
          val nodes = items.indices.filter(_ % 2 == 0).map(i => items(i).path("id").asLong())
          require(nodes.head == r.src && nodes.last == r.dest,
            s"path runs ${nodes.head} -> ${nodes.last}, asked ${r.src} -> ${r.dest}")
          items.indices.filter(_ % 2 == 1).foreach { i =>
            val e = items(i)
            require(e.path("relation").asText() == "CALLS", s"path edge is ${e.path("relation").asText()}")
            require(e.path("src_node").asLong() == nodes(i / 2) &&
              e.path("dest_node").asLong() == nodes(i / 2 + 1), s"path edge $e does not join its nodes")
          }
        }
      case "repo_info" =>
        val n = j.path("info").path("nodes_count").asLong()
        nodes.foreach(want => require(n == want, s"repo_info reports $n nodes, recorded $want"))
      case _ => ()
    }
    j
  }

  /** Replay `sessions` through `t` as one client, issuing no request after
    * `until`. Each request is an op of kind `<prefix><op>`; a response that
    * arrives after `until` is checked but enters no latency. Returns the
    * requests completed by `until`. */
  def replay(c: Ctx, t: Transport, sessions: Iterator[Seq[Req]], prefix: String,
      until: Long = Long.MaxValue, onDone: (Req, String) => Unit = (_, _) => ()): Long = {
    var done = 0L
    sessions.takeWhile(_ => System.nanoTime() < until).foreach { s =>
      var expand: Seq[Long] = Nil
      s.foreach { r0 =>
        if (System.nanoTime() < until) {
          val r = if (r0.op == "get_neighbors" && expand.nonEmpty) r0.copy(ids = expand) else r0
          c.rec.attempt(prefix + r.op)(t.call(r)) { resp =>
            val j = check(r, resp)
            if (r.op == "auto_complete") expand = completionIds(j)
            onDone(r, resp._2)
          }.foreach { case (_, ms) =>
            if (System.nanoTime() <= until) { c.rec.record(prefix + r.op, ms); done += 1 }
          }
        }
      }
    }
    done
  }

  /** The closed loop: `clients` threads, each replaying its own seeded
    * sessions back to back for `seconds`; returns the requests completed in
    * that window. */
  def closedLoop(c: Ctx, port: Int, in: BrowseInputs, clients: Int, seconds: Double,
      prefix: String): Long = {
    val completed = new AtomicLong
    val until = System.nanoTime() + (seconds * 1e9).toLong
    val threads = (0 until clients).map { k =>
      val rng = new scala.util.Random(c.opts.seed * 1000 + k)
      new Thread(() => completed.addAndGet(
        replay(c, new Http(port), Iterator.from(k).map(session(in, rng, _)), prefix, until)))
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    completed.get
  }

  def run(c: Ctx): Outcome = {
    val corpus = Inputs.Corpus.stage(c.opts.work.resolve("corpus").resolve(Repo))
    var api: Option[HttpApi] = None
    val ingestTracer = new Tracer(c.spark)
    val ingestMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    // set-up: ingest the graph into a fresh warehouse and start serving it.
    // The first rep is cold; in the traced run the warm reps ingest through
    // the traced twin of analyze_folder.
    val (store, port) = c.setup(3) { i =>
      api.foreach(_.stop())
      val store = c.freshStore()
      val t0 = System.nanoTime()
      if (c.tracing && i > 0) {
        ingestTracer.attach()
        Ingest.traced(ingestTracer, c.spark, store, corpus)
        ingestTracer.detach()
      } else {
        val r = new Endpoints(c.spark, store).analyzeFolder(Some(corpus.toString))
        require(r.code == 200, s"set-up analyze_folder failed: ${r.json}")
      }
      if (i > 0) ingestMs += (System.nanoTime() - t0) / 1e6
      val a = new HttpApi(c.spark, store, secretToken = None)
      api = Some(a)
      val port = a.start(0)
      check(Req("repo_info"), new Http(port).call(Req("repo_info")))
      (store, port)
    }
    try {
      Ingest.checkGraph(c, store)
      c.put(c.product, "ingest_s", c.med(ingestMs.toSeq) / 1000, "s")
      val stored = Ingest.bytesUnder(java.nio.file.Paths.get(store.warehouse, Repo))
      c.put(c.product, "bytes_stored_per_source_byte", stored.toDouble / Inputs.Corpus.bytes, "ratio")
      val in = inputs(store)
      // two UI sessions before timing, with the shortest and the longest
      // path expansions, which warm the JIT
      val w0 = System.nanoTime()
      val warmRng = new scala.util.Random(c.opts.seed)
      replay(c, new Http(port), Iterator(0, Strata - 1).map(session(in, warmRng, _)), "warmup.")
      c.info("warmup_s") = (System.nanoTime() - w0) / 1e9
      val wall = c.opts.seconds.toDouble
      val completed = closedLoop(c, port, in, Clients, wall, "")
      val all = Main.Ops.flatMap(o => c.rec.latencies(o))
      c.put(c.product, "throughput_rps", completed / wall, "1/s")
      val (tailLabel, tail) = Stats.tail(all)
      c.put(c.product, s"latency_${tailLabel}_ms", tail, "ms")
      c.info("latency_samples") = all.size
      Main.Ops.foreach(o => c.put(c.product, s"${o}_p50_ms", c.med(c.rec.latencies(o)), "ms"))
      if (c.tracing) {
        Ingest.parseOneThread(ingestTracer, corpus)
        Layers.ingest(c, ingestTracer)
        c.put(c.layer, "graph.stored_bytes", stored.toDouble, "bytes")
        traced(c, store, port, in, all)
      }
      Outcome(all, completed, wall)
    } finally api.foreach(_.stop())
  }

  /** The traced run's layer split, one client at a time: HTTP untraced then
    * traced (overhead), direct `Endpoints` calls, then the graph-layer calls
    * each endpoint makes. */
  private def traced(c: Ctx, store: GraphStore, port: Int, in: BrowseInputs,
      fourClients: Seq[Double]): Unit = {
    val tr = c.tracer
    val rng = new scala.util.Random(c.opts.seed * 1000 + 999)
    val sessions = (0 until Strata).map(session(in, rng, _))
    replay(c, new Http(port), sessions.iterator, "http1.")
    val oneClient = Main.Ops.flatMap(o => c.rec.latencies("http1." + o))
    tr.attach()
    val httpDone = replay(c, new Http(port), sessions.iterator, "http1_traced.")
    tr.detach()
    Layers.spark(c, httpDone.toInt)
    val tracedOne = Main.Ops.flatMap(o => c.rec.latencies("http1_traced." + o))
    Layers.overhead(c, oneClient, tracedOne)
    c.put(c.layer, "api.queue_wait_ms", Stats.median(fourClients) - Stats.median(oneClient), "ms")
    Main.Ops.foreach(o => c.put(c.layer, s"api.http_ms.$o", c.med(c.rec.latencies("http1_traced." + o)), "ms"))

    tr.attach()
    val ep = new Endpoints(c.spark, store)
    val bytes = scala.collection.mutable.HashMap.empty[String, Seq[Double]]
    replay(c, new Direct(ep), sessions.iterator, "endpoint.",
      onDone = (r, body) => bytes(r.op) = bytes.getOrElse(r.op, Nil) :+ body.getBytes("UTF-8").length.toDouble)
    Main.Ops.foreach { o =>
      c.put(c.layer, s"api.endpoint_ms.$o", c.med(c.rec.latencies("endpoint." + o)), "ms")
      c.put(c.layer, s"api.response_bytes.$o", c.med(bytes.getOrElse(o, Nil)), "bytes")
    }
    sessions.flatten.foreach { r =>
      val g = tr.span("graph.load") {
        require(store.exists(Repo)); val g = store.load(Repo); store.getInfo(Repo); g
      }
      c.rec.op("graph." + r.op)(tr.span("graph.query." + r.op) {
        r.op match {
          case "graph_entities" => GraphQueries.getSubGraph(g, 500).collect().length
          case "auto_complete" => GraphQueries.autoComplete(g, r.prefix).collect().length
          case "get_neighbors" => GraphQueries.getNeighbors(g, r.ids).collect().length
          case "find_paths" => Paths.findPaths(g, r.src, r.dest).collect().length
          case "repo_info" => GraphQueries.stats(g).collect().length
        }
      })(_ => ())
    }
    tr.detach()
    c.put(c.layer, "graph.load_ms", tr.medianMs("graph.load"), "ms")
    Main.Ops.foreach { o =>
      c.put(c.layer, s"graph.query_ms.$o", tr.medianMs("graph.query." + o), "ms")
      c.put(c.layer, s"graph.jobs.$o", tr.jobsPerCall("graph.query." + o), "count")
    }
  }
}
