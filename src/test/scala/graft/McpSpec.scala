package graft

import java.nio.file.Files
import org.json4s._
import org.json4s.jackson.JsonMethods

/** JSON-RPC round-trip over the MCP facade: the same handshake + tool calls
  * an MCP client (the agents that drive the reference's rmcp server) would
  * issue, asserted on the wire format.
  */
class McpSpec extends SparkSpec {
  implicit private val formats: Formats = DefaultFormats

  private val lib = "lib.py" ->
    "def helper(x):\n    return x\n\nclass Tool:\n    def run(self):\n        return helper(1)\n"

  /** A repo of `files` (name -> source). */
  private def repo(files: (String, String)*): String = {
    val dir = Files.createTempDirectory("graft-mcp-repo")
    files.foreach { case (f, src) => Files.writeString(dir.resolve(f), src) }
    dir.toString
  }

  private def indexed(repoDir: String): String = {
    val storeDir = Files.createTempDirectory("graft-mcp-store").toString
    graft.analyze.Indexer.indexDirectory(spark, repoDir, "mcp-repo")
      .write(storeDir)
    storeDir
  }

  private lazy val storeDir = indexed(repo(lib,
    "app.py" -> "from lib import helper\n\ndef main():\n    return helper(2)\n"))

  private lazy val server: McpServer = new McpServer(spark, storeDir)

  /** A server that answers from the serving index at or below `bound`
    * Parquet bytes and from Spark above it. */
  private def servedAt(store: String, bound: Long) =
    new McpServer(spark, None, new graft.serve.ServedStore(spark, store, bound))

  private val bounds = Seq("spark" -> 0L,
    "index" -> graft.serve.ServedStore.IndexBoundBytes)

  private def call(json: String, on: McpServer = server): JValue =
    JsonMethods.parse(on.handle(json).getOrElse(fail(s"no response: $json")))

  private def tool(name: String, args: JObject): String =
    JsonMethods.compact(JsonMethods.render(JObject("jsonrpc" -> JString("2.0"),
      "id" -> JInt(9), "method" -> JString("tools/call"),
      "params" -> JObject("name" -> JString(name), "arguments" -> args))))

  /** A tool call's rows, failing on a tool error. */
  private def rows(on: McpServer, name: String, args: JObject): List[JValue] = {
    val res = call(tool(name, args), on) \ "result"
    val text = ((res \ "content")(0) \ "text").extract[String]
    assert(res \ "isError" == JNothing, text)
    JsonMethods.parse(text).asInstanceOf[JArray].arr
  }

  test("initialize handshake + tools/list") {
    val init = call("""{"jsonrpc":"2.0","id":1,"method":"initialize","params":{}}""")
    assert((init \ "result" \ "protocolVersion").extract[String] ==
      McpServer.ProtocolVersion)
    assert(server.handle(
      """{"jsonrpc":"2.0","method":"notifications/initialized"}""").isEmpty)
    val tools = call("""{"jsonrpc":"2.0","id":2,"method":"tools/list"}""")
    val names = (tools \ "result" \ "tools" \\ classOf[JString])
    McpServer.toolSpecs.map(_._1).foreach(t => assert(names.contains(t), t))
  }

  test("tools/call search + references round-trip") {
    val search = call("""{"jsonrpc":"2.0","id":3,"method":"tools/call",
      "params":{"name":"search_codebase_definitions","arguments":{"terms":["helper"]}}}""")
    val text = (search \ "result" \ "content")(0).asInstanceOf[JObject] \ "text"
    val rows = JsonMethods.parse(text.extract[String]).asInstanceOf[JArray].arr
    assert(rows.exists(r => (r \ "name").extract[String] == "helper"))

    val refs = call("""{"jsonrpc":"2.0","id":4,"method":"tools/call",
      "params":{"name":"get_references","arguments":{"name":"helper","path":"lib.py"}}}""")
    val refRows = JsonMethods.parse(
      ((refs \ "result" \ "content")(0) \ "text").extract[String])
      .asInstanceOf[JArray].arr
    assert(refRows.nonEmpty) // Tool.run and app.main call helper
  }

  for ((plan, bound) <- bounds)
    test(s"a store rewritten under the server is served anew ($plan plan)") {
      val store = indexed(repo(lib))
      val m = servedAt(store, bound)
      def names(terms: String*) = rows(m, "search_codebase_definitions",
        JObject("terms" -> JArray(terms.map(JString(_)).toList)))
        .map(r => (r \ "name").extract[String])
      assert(names("helper") == List("helper"))
      assert(names("fresh").isEmpty)

      // a reindex into the served directory through the tool itself...
      val stats = rows(m, "index_project", JObject(
        "repo_dir" -> JString(repo(lib, "fresh.py" -> "def fresh_start():\n    return 1\n")),
        "store_dir" -> JString(store)))
      assert((stats.head \ "file_count").extract[Long] == 2)
      assert(names("fresh") == List("fresh_start"))
      assert(rows(m, "repo_map", JObject("file_paths" -> JArray(List(JString("fresh.py")))))
        .map(r => (r \ "name").extract[String]) == List("fresh_start"))

      // ...and one by another writer
      graft.analyze.Indexer.indexDirectory(spark,
        repo("other.py" -> "def other_one():\n    return 2\n"), "mcp-repo").write(store)
      assert(names("fresh", "helper").isEmpty)
      assert(names("other") == List("other_one"))
      assert(rows(m, "read_definitions", JObject("name" -> JString("other_one"),
        "path" -> JString("other.py"))).size == 1)
    }

  test("skip/limit: negative, zero and huge values give the same reply on both plans") {
    val Seq(m0, m1) = bounds.map { case (_, b) => servedAt(storeDir, b) }
    val huge = Seq(JInt(Int.MaxValue), JInt(BigInt("99999999999")))
    for (skip <- Seq(JInt(-1), JInt(Int.MinValue), JInt(0)) ++ huge;
         limit <- Seq(JInt(-1), JInt(0), JInt(1)) ++ huge; (name, args) <- Seq(
        "search_codebase_definitions" -> JObject("terms" -> JArray(List(JString("e")))),
        "repo_map" -> JObject("file_paths" -> JArray(List(JString("lib.py"), JString("app.py")))),
        "get_references" -> JObject("name" -> JString("helper"), "path" -> JString("lib.py")))) {
      val args1 = JObject(args.obj ++ List("skip" -> skip, "limit" -> limit))
      val want = rows(m0, name, args1)
      assert(rows(m1, name, args1) == want, s"$name $args1")
      if (skip.num <= 0 && limit.num > 0) assert(want.nonEmpty, s"$name $args1")
      if (limit.num <= 0) assert(want.isEmpty, s"$name $args1")
    }
  }

  test("unknown tool and malformed input become protocol errors") {
    val bad = call("""{"jsonrpc":"2.0","id":5,"method":"tools/call",
      "params":{"name":"nope","arguments":{}}}""")
    assert((bad \ "result" \ "isError").extract[Boolean])
    val malformed = call("""{"this is not json""")
    assert((malformed \ "error" \ "code").extract[Int] == -32700)
    val unknown = call("""{"jsonrpc":"2.0","id":6,"method":"no/such"}""")
    assert((unknown \ "error" \ "code").extract[Int] == -32601)
  }
}
