package graft.api

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import graft.SparkSpec
import graft.graph.{CodeGraph, GraphStore, OpLog}
import graft.ingest.Ingestor

/** HTTP transport invariants over [[HttpApi]]: route table, auth guards,
  * and response shapes as served over a real socket (the reference serves
  * these via Flask — `api/index.py:41-51`). */
class HttpApiSpec extends SparkSpec {

  private lazy val store = {
    val wh = Files.createTempDirectory("graft-http-wh").toString
    val s = new GraphStore(spark, wh)
    val g = new CodeGraph(spark, "proj", Some(s))
    Ingestor.ingest(g, Seq(Ingestor.SourceFile("src.py", Seq(
      "def alpha():",
      "    beta()",
      "",
      "def beta():",
      "    pass").mkString("\n"))))
    g.checkpointNow(); g.save()
    s
  }

  private val client = HttpClient.newHttpClient()

  private def get(port: Int, path: String,
      token: Option[String] = None): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
    token.foreach(b.header("Authorization", _))
    client.send(b.GET().build(), HttpResponse.BodyHandlers.ofString())
  }

  private def post(port: Int, path: String, body: String,
      token: Option[String] = None): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .header("Content-Type", "application/json")
    token.foreach(b.header("Authorization", _))
    client.send(b.POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
  }

  test("routes serve the endpoint contract over a real socket") {
    val api = new HttpApi(spark, store, secretToken = None,
      publicAccess = false)
    val port = api.start(0)
    try {
      val repos = get(port, "/list_repos")
      assert(repos.statusCode() == 200)
      val reposJson = OpLog.mapper.readTree(repos.body())
      assert(reposJson.get("status").asText() == "success")
      assert((0 until reposJson.get("repositories").size())
        .map(reposJson.get("repositories").get(_).asText()).contains("proj"))

      val ents = get(port, "/graph_entities?repo=proj")
      assert(ents.statusCode() == 200)
      val entsJson = OpLog.mapper.readTree(ents.body())
      assert(entsJson.get("entities").get("nodes").size() > 0)

      val missing = get(port, "/graph_entities")
      assert(missing.statusCode() == 400)
      assert(OpLog.mapper.readTree(missing.body()).get("status").asText()
        == "Missing 'repo' parameter")

      val ac = post(port, "/auto_complete",
        """{"repo":"proj","prefix":"al"}""")
      assert(ac.statusCode() == 200)
      val acJson = OpLog.mapper.readTree(ac.body())
      assert(acJson.get("completions").size() >= 1)

      val badNb = post(port, "/get_neighbors",
        """{"repo":"proj","node_ids":["x"]}""")
      assert(badNb.statusCode() == 400)
      assert(OpLog.mapper.readTree(badNb.body()).get("status").asText()
        == "Invalid node ID. It must be an integer.")

      assert(get(port, "/nope").statusCode() == 404)
      // malformed JSON is a client error, not a 500 (Flask get_json aborts 400)
      val badJson = post(port, "/repo_info", "{not json")
      assert(badJson.statusCode() == 400)
      // '+' in a query value must survive single-decoding (repo "a+b")
      val plus = get(port, "/graph_entities?repo=a%2Bb")
      assert(OpLog.mapper.readTree(plus.body()).get("status").asText()
        == "Missing project a+b")
      // public_access guard (index.py:44-50): disabled -> 401
      val sw = post(port, "/switch_commit", """{"repo":"proj","commit":"x"}""")
      assert(sw.statusCode() == 401)
      assert(OpLog.mapper.readTree(sw.body()).get("message").asText()
        == "Unauthorized")
    } finally api.stop()
  }

  test("token guard: mismatch and missing token are rejected (index.py:26-38)") {
    val api = new HttpApi(spark, store, secretToken = Some("s3cret"),
      publicAccess = false)
    val port = api.start(0)
    try {
      assert(get(port, "/list_repos").statusCode() == 401)
      assert(get(port, "/list_repos", Some("wrong")).statusCode() == 401)
      assert(get(port, "/list_repos", Some("s3cret")).statusCode() == 200)
    } finally api.stop()
  }

  test("a failing chat client answers 500 (index.py:90-94)") {
    val failing = new ChatClient {
      def ask(repo: String, question: String,
          g: graft.graph.PropertyGraph): String =
        throw new RuntimeException("chat backend down")
    }
    val api = new HttpApi(spark, store, chat = failing, secretToken = None,
      publicAccess = false)
    val port = api.start(0)
    try {
      val r = post(port, "/chat", """{"repo":"proj","msg":"who calls beta"}""")
      assert(r.statusCode() == 500)
      assert(r.body() == """{"status":"Internal server error"}""")
    } finally api.stop()
  }
}
