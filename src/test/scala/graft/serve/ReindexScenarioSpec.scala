package graft.serve

import java.nio.file.{Files, Path}
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.{SparkSpec, TestFixtures}
import graft.analyze.{IdRemapper, Indexer}
import graft.store.GraphStore

/** The reference's reindex scenario (indexer/src/tests.rs:48-120: modify a
  * file, add one that the next modification uses, delete a method, delete
  * a file) through the product's write path: a workspace of three projects
  * (the Ruby and TypeScript fixture trees and a synthetic Python tree) is
  * indexed by [[WorkspaceManager]] with the watch started, each project
  * gets its script in one debounce window, and once the watcher has
  * reindexed every edited path the store must hold what a from-scratch
  * index of the edited tree holds, compared by natural key.
  */
class ReindexScenarioSpec extends SparkSpec {

  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    } finally s.close()
  }

  private def edit(root: Path, rel: String)(f: String => String): Unit = {
    val before = Files.readString(root.resolve(rel))
    val after = f(before)
    assert(after != before, s"the edit of $rel matched nothing")
    Files.writeString(root.resolve(rel), after)
  }

  private def add(root: Path, rel: String, content: String): Unit = {
    Files.createDirectories(root.resolve(rel).getParent)
    Files.writeString(root.resolve(rel), content)
  }

  /** Each project's script; returns the paths it touched. */
  private val scripts: Map[String, Path => Set[String]] = Map(
    "ruby" -> { root =>
      edit(root, "app/models/user.rb")(c => "\n\n" + c.replace(
        "  def self.find_by_email(email)\n    USERS[email]\n  end",
        "  def self.find_by_email(email)\n    USERS[email]\n  end\n\n" +
          "  def self.find_by_attributes(attrs)\n" +
          "    USERS.values.select { |u| u.email == attrs[:email] }\n  end"))
      edit(root, "app/models/user.rb")(_.replace(
        "  def full_name\n    \"#{first_name} #{last_name}\".strip\n  end\n", ""))
      add(root, "app/utils/string_utils.rb",
        "module StringUtils\n  def self.sanitize(str)\n    str.strip.downcase\n" +
          "  end\n\n  def self.titleize(str)\n" +
          "    str.split(' ').map(&:capitalize).join(' ')\n  end\nend\n")
      edit(root, "main.rb")(c => "require_relative 'app/utils/string_utils'\n" +
        c + "\ndef format_name(name)\n  StringUtils.titleize(name)\nend\n")
      Files.delete(root.resolve("services/auth_service.rb"))
      Set("app/models/user.rb", "app/utils/string_utils.rb", "main.rb",
        "services/auth_service.rb")
    },
    "ts" -> { root =>
      edit(root, "lib/authentication.ts")(_ + "\nexport function describeAuth(): " +
        "string {\n  return Authentication.enabled() ? 'on' : 'off';\n}\n")
      add(root, "lib/string_utils.ts", "export function titleize(s: string): " +
        "string {\n  return s.split(' ').map((w) => w.toUpperCase()).join(' ');\n}\n")
      edit(root, "main.ts")(c => "import { titleize } from './lib/string_utils';\n" +
        c + "\nexport function formatName(name: string): string {\n" +
        "  return titleize(name);\n}\n")
      Files.delete(root.resolve("app/models/base_model.ts"))
      Set("lib/authentication.ts", "lib/string_utils.ts", "main.ts",
        "app/models/base_model.ts")
    },
    "py" -> { root =>
      edit(root, "pkg1/mod1.py")(_.replace(
        "    def m0_0(self):\n        return helper_1(self, 0)\n", ""))
      edit(root, "pkg1/mod1.py")(_ + "\ndef extra_1():\n    return helper_1(1, 2)\n")
      add(root, "pkg1/fresh.py", "from pkg1.mod1 import helper_1\n\n" +
        "def fresh():\n    return helper_1(0, 0)\n")
      edit(root, "pkg2/mod2.py")(c => "from pkg1.fresh import fresh\n" + c +
        "\ndef uses_fresh():\n    return fresh()\n")
      Files.delete(root.resolve("pkg3/mod3.py"))
      Set("pkg1/mod1.py", "pkg1/fresh.py", "pkg2/mod2.py", "pkg3/mod3.py")
    })

  /** (project, table) → the rows a from-scratch index holds and the store
    * lacks, and the rows the store holds beyond it, each row's fields
    * joined by ",". Every entry is an instance of a gap that
    * `IncrementalIndexer.applyReindexBatch` documents: an unchanged file's
    * call edges keep the resolution they were written with. Deleting
    * base_model.ts leaves `super.toObject()` in the unchanged
    * user_model.ts one candidate, so a fresh index says CALLS where the
    * kept edge says AMBIGUOUSLY_CALLS.
    */
  private val knownGaps: Map[(String, String), (Set[String], Set[String])] = Map(
    ("ts", "edges") -> (
      Set("DEF_TO_DEF,CALLS,1986,1994,75,75,15,23," + toObject),
      Set("DEF_TO_DEF,AMBIGUOUSLY_CALLS,1986,1994,75,75,15,23," + toObject)))
  private def toObject = Seq.fill(2)(
    "T|app/models/user_model.ts|1920|UserModel.toObject").mkString(",")

  /** The store's rows by natural key, per table, each with its count:
    * a row the store holds twice differs from one it holds once. Natural
    * keys join their parts with U+0001, shown here as "|".
    */
  private def keyed(g: GraphStore): Map[String, Map[String, Int]] = Map(
    "directories" -> g.directories.select("path", "name", "repository_name"),
    "files" -> g.files.select("path", "absolute_path", "repository_name"),
    "definitions" -> g.definitions.select("primary_file_path",
      "definition_type", "fqn"),
    "imported symbols" -> g.importedSymbols.select("file_path", "name",
      "alias", "start_byte"),
    "edges" -> IdRemapper.edgesWithNaturalKeys(g)
  ).map { case (k, df) => k -> df.collect().toSeq
    .map(_.mkString(",").replace('\u0001', '|'))
    .groupMapReduce(identity)(_ => 1)(_ + _) }

  /** The rows of `a` beyond those of `b`, with the surplus count. */
  private def minus(a: Map[String, Int], b: Map[String, Int]): Map[String, Int] =
    a.collect { case (r, n) if n > b.getOrElse(r, 0) => r -> (n - b.getOrElse(r, 0)) }

  test("the tests.rs modify/add/delete script through the watcher equals a " +
    "from-scratch index of the edited trees") {
    val ws = Files.createTempDirectory("graft-scenario")
    Seq("ruby" -> Some("ruby-references"), "ts" -> Some("typescript/test-repo"),
      "py" -> None).foreach { case (name, fixture) =>
      val root = ws.resolve(name)
      Files.createDirectories(root.resolve(".git"))
      fixture match {
        case Some(f) => copyTree(TestFixtures.root(f), root)
        case None => graft.extract.SyntheticTree.generate(root, 24)
      }
    }

    val bus = new EventPublisher
    val (_, events) = bus.subscribe()
    val mgr = new WorkspaceManager(spark,
      Files.createTempDirectory("graft-scenario-data").toString, bus,
      autoWatch = true)
    val state = mgr.getOrRegister(ws.toString).getOrElse(fail("register failed"))
    try {
      mgr.dispatchIndex(state)
      // generous deadline: the index job shares the JVM with the other suites
      val deadline = System.currentTimeMillis() + 240000
      def next(): JValue = {
        val line = events.poll(deadline - System.currentTimeMillis(),
          TimeUnit.MILLISECONDS)
        if (line == null) fail("no event before the deadline")
        JsonMethods.parse(line)
      }
      var ev = next()
      while ((ev \ "type") != JString("WorkspaceIndexingCompleted")) {
        assert((ev \ "type") != JString("WorkspaceIndexingFailed"), ev)
        ev = next()
      }
      assert(state.projects.size == 3)

      // one debounce window per tree: each script runs at once
      val pending = scala.collection.mutable.Map[String, Set[String]]()
      state.projects.foreach { p =>
        val root = Path.of(p.projectPath)
        pending(p.projectPath) = scripts(root.getFileName.toString)(root)
      }
      while (pending.values.exists(_.nonEmpty)) {
        val e = next()
        if ((e \ "type") == JString("WorkspaceReindexed")) {
          val JString(proj) = e \ "project_path"
          val changed = (e \ "changed").children.collect { case JString(s) => s }
          pending(proj) = pending(proj) -- changed
        }
      }

      val mismatches = state.projects.toSeq.flatMap { p =>
        val name = Path.of(p.projectPath).getFileName.toString
        val got = keyed(GraphStore.read(spark, mgr.storeDirFor(state, p)))
        val want = keyed(Indexer.indexDirectory(spark, p.projectPath, name))
        want.keys.toSeq.sorted.flatMap { table =>
          val diff = (minus(want(table), got(table)), minus(got(table), want(table)))
          val (gapMissing, gapExtra) =
            knownGaps.getOrElse((name, table), (Set.empty[String], Set.empty[String]))
          if (diff == ((gapMissing.map(_ -> 1).toMap, gapExtra.map(_ -> 1).toMap))) None
          else Some(s"$name $table: missing ${diff._1.mkString("; ")} / " +
            s"unexpected ${diff._2.mkString("; ")}")
        }
      }
      assert(mismatches.isEmpty, mismatches.mkString("\n"))
    } finally mgr.shutdown()
  }
}
