package graft

import org.apache.spark.sql.SparkSession
import graft.analyze.Indexer
import graft.query.QueryLibrary
import graft.store.GraphStore

/** CLI entry points — the analog of the reference's `gkg` binary
  * (gkg/src/cli.rs:30-62: index / server / clean, plus the devtools
  * query/list faces).
  *
  * Usage:
  *   graft.Cli index <repoDir> <storeDir> [repoName]
  *   graft.Cli stats <storeDir>
  *   graft.Cli query <storeDir> <name> [args...]   (see `queries` below)
  *   graft.Cli sql   <storeDir> <statement>
  *   graft.Cli server start <storeDir> [--port=N] [--data-dir=D]
  *                          [--workspace=W] [--project=P] [--jwt-secret=F]
  *   graft.Cli server stop  <dataDir>
  *   graft.Cli clean <dataDir>
  *
  * `server start` mirrors gkg server start (gkg/src/commands/server.rs):
  * it writes a `{port, pid}` lock file into the data directory so other
  * invocations can discover the instance, prints the `{"port":N}` info
  * line, and serves until stopped. `server stop` (server.rs:167-180)
  * signals the recorded pid (SIGTERM via ProcessHandle.destroy) and
  * removes a stale lock when the process is already gone. `clean`
  * (gkg/src/commands/clean.rs) refuses to run while the lock names a live
  * server, then removes every indexed store, change feed and checkpoint
  * under the data directory.
  */
object Cli {

  /** Lock-file name inside a data dir (reference: get_lock_file_path). */
  private[graft] val LockFile = "server.lock.json"
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt, "graft-cli")
    try run(spark, args.toList)
    catch {
      // usage-level errors (refused clean, unknown flag, bad --port=…)
      // surface as one-line messages + exit 1, not stack traces
      case e @ (_: IllegalStateException | _: IllegalArgumentException |
                _: NumberFormatException) =>
        System.err.println(s"Error: ${e.getMessage}")
        sys.exit(1)
    }
    finally spark.stop()
  }

  private[graft] def run(spark: SparkSession, args: List[String]): Unit = args match {
    case "index" :: repoDir :: storeDir :: rest =>
      val repo = rest.headOption.getOrElse(
        new java.io.File(repoDir).getName)
      val t0 = System.nanoTime()
      Indexer.indexTo(spark, repoDir, repo, storeDir)
      val wrote = System.nanoTime()
      val readBack = GraphStore.read(spark, storeDir).cacheAll()
      // optional 2nd rest arg: stats JSON path (the reference's --stats)
      rest.drop(1).headOption.foreach { statsPath =>
        graft.analyze.IndexStats.write(statsPath, readBack,
          Map("index_and_write" -> (wrote - t0) / 1e9))
        println(s"stats -> $statsPath")
      }
      val lib = new QueryLibrary(readBack)
      lib.graphStats().show(truncate = false)

    case "stats" :: storeDir :: Nil =>
      new QueryLibrary(GraphStore.read(spark, storeDir)).graphStats()
        .show(truncate = false)

    case "query" :: storeDir :: name :: rest =>
      val lib = new QueryLibrary(GraphStore.read(spark, storeDir).cacheAll())
      val df = (name, rest) match {
        case ("file-definitions", path :: _) => lib.fileDefinitions(path)
        case ("file-imports", path :: _) => lib.fileImports(path)
        case ("search", term :: _) => lib.searchNodes(term)
        case ("search-definitions", terms) => lib.searchDefinitions(terms)
        case ("matches", s :: _) => lib.listMatches(s)
        case ("references", n :: p :: _) => lib.getReferences(n, p)
        case ("definition-relations", fqn :: _) => lib.definitionRelations(fqn)
        case ("calls-from", fqn :: _) => lib.callsFrom(fqn)
        case ("calls-to", fqn :: _) => lib.callsTo(fqn)
        case ("call-closure", fqn :: _) => lib.callClosure(fqn)
        case ("neighbors", kind :: id :: _) => lib.nodeNeighbors(kind, id.toLong)
        case ("initial-graph", _) => lib.initialProjectGraph()
        case ("repo-map", paths) => lib.repoMap(paths)
        case other =>
          throw new IllegalArgumentException(s"unknown query: $other")
      }
      df.show(100, truncate = false)

    case "sql" :: storeDir :: statement :: Nil =>
      new QueryLibrary(GraphStore.read(spark, storeDir))
        .sql(spark, statement).show(100, truncate = false)

    // Workspace = one store per project, exactly the reference's model
    // (workspace-manager keeps one DB per project and routes queries;
    // crates/workspace-manager). Merging graphs across repos would conflate
    // path-keyed natural keys — per-project stores keep ids and paths local.
    case "index-workspace" :: wsDir :: storeDir :: Nil =>
      val repos = Option(new java.io.File(wsDir).listFiles())
        .getOrElse(Array.empty).filter(_.isDirectory).sortBy(_.getName)
      require(repos.nonEmpty, s"no project directories under $wsDir")
      repos.foreach { r =>
        Indexer.indexTo(spark, r.getPath, r.getName, s"$storeDir/${r.getName}")
        println(s"indexed ${r.getName} -> $storeDir/${r.getName}")
      }

    // list_projects MCP analog: the indexed project stores in a workspace
    case "list-projects" :: storeDir :: Nil =>
      listProjects(storeDir).foreach(println)

    case "server" :: "start" :: storeDir :: flags =>
      val opts = parseFlags(flags)
      val srv = startServer(spark, storeDir,
        port = opts.get("port").map(_.toInt).getOrElse(27495),
        workspace = opts.getOrElse("workspace", "workspace"),
        project = opts.getOrElse("project", new java.io.File(storeDir).getName),
        dataDir = opts.getOrElse("data-dir",
          new java.io.File(storeDir, ".graft-data").getPath),
        jwtSecretPath = opts.get("jwt-secret"))
      try {
        // serve until the lock disappears (a `server stop` SIGTERM lands as
        // an InterruptedException on this sleep via the shutdown sequence,
        // and a removed lock file is the reference's stale-stop signal)
        val lock = java.nio.file.Paths.get(srv._2)
        while (java.nio.file.Files.exists(lock)) Thread.sleep(500)
      } catch { case _: InterruptedException => () }
      finally srv._1.stop()

    case "server" :: "stop" :: dataDir :: Nil =>
      readLock(dataDir) match {
        case Some((port, pid)) =>
          val handle = java.lang.ProcessHandle.of(pid)
          if (handle.isPresent && handle.get.isAlive) {
            handle.get.destroy() // SIGTERM (server.rs:175)
            println(s"stopped server on port $port (pid $pid)")
          } else println(s"removing stale lock (pid $pid not running)")
          java.nio.file.Files.deleteIfExists(
            java.nio.file.Paths.get(dataDir, LockFile))
        case None => println("no server running")
      }

    case "clean" :: dataDir :: Nil =>
      readLock(dataDir) match {
        case Some((port, pid)) if {
          val h = java.lang.ProcessHandle.of(pid)
          h.isPresent && h.get.isAlive
        } =>
          // clean.rs:11-14: refuse while a server is running (main turns
          // this into exit code 1, matching the reference's process.exit)
          throw new IllegalStateException(
            s"server is running on port $port (pid $pid); stop it before running clean")
        case _ =>
          // link-safe shared implementation: a symlink inside the data dir
          // must be removed as a link, never followed into its target
          GraphStore.deleteRecursively(java.nio.file.Paths.get(dataDir))
          println("Clean completed")
      }

    case other =>
      System.err.println(
        s"""unknown args: ${other.mkString(" ")}
           |usage: index <repoDir> <storeDir> [repoName]
           |       index-workspace <workspaceDir> <storeDir>
           |       list-projects <storeDir>
           |       stats <storeDir>
           |       query <storeDir> <name> [args...]
           |       sql <storeDir> <statement>
           |       server start <storeDir> [--port=N] [--data-dir=D] [--workspace=W] [--project=P] [--jwt-secret=F]
           |       server stop <dataDir>
           |       clean <dataDir>""".stripMargin)
      sys.exit(2)
  }

  /** Start the HTTP serving layer over an indexed store and write the
    * `{port, pid}` lock file other CLI invocations discover the instance
    * by (server.rs:119-125). Returns (server, lockFilePath); the caller
    * owns the blocking loop (main) or the lifecycle (specs).
    */
  private[graft] def startServer(spark: SparkSession, storeDir: String,
      port: Int, workspace: String, project: String, dataDir: String,
      jwtSecretPath: Option[String]): (GraphHttpServer, String) = {
    val srv = new GraphHttpServer(spark, storeDir, workspace, project,
      dataDir = dataDir, jwtSecretPath = jwtSecretPath)
    val bound = srv.start(port)
    val lockPath = java.nio.file.Paths.get(dataDir, LockFile)
    java.nio.file.Files.createDirectories(lockPath.getParent)
    java.nio.file.Files.writeString(lockPath,
      s"""{"port":$bound,"pid":${java.lang.ProcessHandle.current.pid}}""")
    println(s"""{"port":$bound}""") // print_server_info (server.rs:30-33)
    (srv, lockPath.toString)
  }

  private[graft] def readLock(dataDir: String): Option[(Int, Long)] = {
    val p = java.nio.file.Paths.get(dataDir, LockFile)
    if (!java.nio.file.Files.isRegularFile(p)) None
    else {
      val s = java.nio.file.Files.readString(p)
      for {
        port <- """"port"\s*:\s*(\d+)""".r.findFirstMatchIn(s).map(_.group(1).toInt)
        pid <- """"pid"\s*:\s*(\d+)""".r.findFirstMatchIn(s).map(_.group(1).toLong)
      } yield (port, pid)
    }
  }

  private def parseFlags(flags: List[String]): Map[String, String] =
    flags.flatMap {
      case f if f.startsWith("--") && f.contains('=') =>
        val Array(k, v) = f.stripPrefix("--").split("=", 2)
        Some(k -> v)
      case f =>
        throw new IllegalArgumentException(s"unknown flag: $f (use --key=value)")
    }.toMap


  /** Project names with a complete store under `storeDir`. */
  private[graft] def listProjects(storeDir: String): Seq[String] =
    Option(new java.io.File(storeDir).listFiles())
      .getOrElse(Array.empty)
      .filter(d => d.isDirectory && new java.io.File(d, "file_nodes").isDirectory)
      .map(_.getName).sorted.toSeq
}
