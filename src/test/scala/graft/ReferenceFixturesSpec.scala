package graft

import java.io.File
import org.apache.spark.sql.functions._
import graft.analyze.Indexer
import graft.model.{EdgeKind, RelType}

/** Indexes the reference's own fixture corpora (read-only at
  * /root/reference/fixtures — the golden inputs its language-analyzer tests
  * assert against, SURVEY §5) and checks the structural invariants our
  * heuristic extractors must uphold on real-world code: files detected per
  * language, definitions with containment edges, imports where the corpus
  * has them. Exact-count parity with tree-sitter is not claimed (FIXTURES.md
  * §1) — these are shape checks on real inputs, complementing IndexerSpec's
  * exact assertions on synthetic trees.
  */
class ReferenceFixturesSpec extends SparkSpec {

  private val fixtures = new File("/root/reference/fixtures")

  private def indexed(sub: String) =
    Indexer.indexDirectory(spark, new File(fixtures, sub).getPath, sub)

  // (fixture dir, expected language, expect imports?)
  private val corpora = Seq(
    ("test-repo", "ruby", true),
    ("ruby-references", "ruby", false),
    ("kotlin", "kotlin", true),
    ("java", "java", true),
    ("java-user-service", "java", true),
    ("typescript", "typescript", true))

  corpora.foreach { case (dir, lang, expectImports) =>
    test(s"reference fixture '$dir': files, definitions, containment edges") {
      assume(fixtures.isDirectory, "reference fixtures not present")
      val store = indexed(dir)
      val nFiles = store.files.where(col("language") === lang).count()
      assert(nFiles > 0, s"no $lang files detected in $dir")
      val nDefs = store.definitions.count()
      assert(nDefs > 0, s"no definitions extracted from $dir")
      val fileDefines = store.edges
        .where(col("kind") === EdgeKind.FileToDef &&
          col("type") === RelType.FileDefines).count()
      assert(fileDefines === nDefs, "every definition belongs to a file")
      // real-world trees nest definitions (methods in classes etc.)
      val nesting = store.edges.where(col("kind") === EdgeKind.DefToDef &&
        col("type").contains("_TO_")).count()
      assert(nesting > 0, s"no nesting edges derived in $dir")
      if (expectImports)
        assert(store.importedSymbols.count() > 0, s"no imports found in $dir")
    }
  }

  test("reference Ruby test-repo: EXACT node/containment parity with the " +
    "reference's own end-to-end expectations (indexer/src/tests.rs:924-958)") {
    assume(fixtures.isDirectory, "reference fixtures not present")
    val store = indexed("test-repo")
    assert(store.definitions.count() === 96) // tests.rs:924
    assert(store.files.count() === 7) // tests.rs:929
    assert(store.directories.count() === 4) // tests.rs:946
    assert(store.edges.where(col("type") === RelType.FileDefines)
      .count() === 96) // tests.rs:941
    assert(store.edges.where(col("type") === RelType.DirContainsFile)
      .count() === 6) // tests.rs:952
    assert(store.edges.where(col("type") === RelType.DirContainsDir)
      .count() === 2) // tests.rs:958
    // reference edges resolve on real Ruby (tests.rs:935,965 asserts richer
    // tree-sitter-backed counts). CALLS comes from the typed resolver plus
    // heuristic leftovers; PROPERTY_REFERENCE from unresolved attribute
    // access. AMBIGUOUSLY_CALLS is deliberately NOT asserted here any more:
    // the RubyTypedResolver disambiguates the sites the name-match pass
    // used to mark ambiguous, matching the reference's Ruby resolver, which
    // emits only Calls (expression_resolver.rs:380); the ambiguous family
    // is exercised by the Kotlin/Java parity tests.
    assert(store.edges.where(col("type") === RelType.Calls).count() > 0)
    assert(store.edges.where(col("type") === RelType.PropertyReference)
      .count() > 0)
  }

  // ---- Kotlin/Java resolution parity with the reference's own language
  // tests: every call-edge assertion hardcoded in
  // crates/indexer/src/analysis/languages/kotlin/tests.rs:96-553 and
  // java/tests.rs:96-486, expressed as (callee fqn, caller-fqn suffix).
  // These need type-DIRECTED resolution (receiver var types, inheritance,
  // LUB inference, companions, extensions) — the TypedResolver's job.

  private val kotlinCallExpectations: Seq[(String, String)] = Seq(
    ("com.example.foo.Foo", "com.example.main"),
    ("com.example.foo.Foo.foo", "com.example.main"),
    ("com.example.foo.Foo.Companion.companionFoo", "com.example.main"),
    ("com.example.foo.Baz.baz", "com.example.main"),
    ("com.example.foo.Bar.bar", "com.example.foo.Foo.foo"),
    ("com.example.foo.Foo.fooInFooBody", "com.example.foo.Foo.foo"),
    ("com.example.foo.Foo.fooInFooBody", "com.example.foo.Foo.InnerFoo.innerFoo"),
    ("com.example.entites.Person.getName", "com.example.when.whenTypeInference"),
    ("com.example.entites.Person.getName", "com.example.if.usageOfIfTypeInference"),
    ("com.example.entites.Person.getName", "com.example.try.tryTypeInference"),
    ("com.example.nestedclasses.Parent.Child.GrandChild.greet",
      "com.example.nestedclasses.Parent.GrandChild.greet"),
    ("com.example.nestedclasses.Parent.Child.GrandChild.greet", "com.example.main"),
    ("com.example.nestedclasses.Parent.GrandChild.greet", "com.example.main"),
    ("com.example.edgecases.filter.Filter.filter",
      "com.example.edgecases.filter.ServerFilter.filter"),
    ("com.example.operator.AnimalList.plus", "com.example.operator.AnimalList.Companion.of"),
    ("com.example.operator.AnimalList.display", "com.example.operator.AnimalList.Companion.of"),
    ("com.example.enums.Enum.enumMethod", "com.example.main"),
    ("com.example.enums.Enum.enumMethod2", "com.example.main"),
    ("com.example.extensions.printValue", "com.example.extensions.callToExtensions"),
    ("com.example.extensions.utils.reverse", "com.example.extensions.callToImportedExtensions"),
    ("com.example.extensions.entities.ExtendMeFromProperty.printValue",
      "com.example.extensions.callToExtensions"),
    ("com.example.extensions.printValue", "com.example.extensions.callToImportedExtensions"),
    ("com.example.extensions.imported.print", "com.example.extensions.imported.callToImported"))

  private val kotlinImportExpectations: Seq[(String, String, String)] = Seq(
    ("org.slf4j", "Logger", "com.example.main"))

  private val javaCallExpectations: Seq[(String, String)] = Seq(
    ("com.example.app.Traceable", "com.example.app.Main.main"),
    ("com.example.app.Foo", "com.example.app.Main.Main"),
    ("com.example.app.Foo.bar", "com.example.app.Main.main"),
    ("com.example.app.Bar.baz", "com.example.app.Main.main"),
    ("com.example.app.Executor.execute", "com.example.app.Main.main"),
    ("com.example.app.Main.await", "com.example.app.Main.main"),
    ("com.example.app.Application.run", "com.example.app.Main.main"),
    ("com.example.util.Outer.make", "com.example.app.Main.main"),
    ("com.example.util.Outer.outerMethod", "com.example.app.Main.main"),
    ("com.example.util.Outer.Inner", "com.example.app.Main.main"),
    ("com.example.util.Outer.Inner.innerMethod", "com.example.app.Main.main"),
    ("com.example.util.Outer.Inner.innerStatic", "com.example.app.Main.main"),
    ("com.example.app.EnumClass.enumMethod1", "com.example.app.Main.main"),
    ("com.example.app.EnumClass.enumMethod2", "com.example.app.Main.main"),
    ("com.example.filter.Filter.apply", "com.example.filter.ServerFilter.Filter.apply"),
    ("com.example.helpers.Helpers.InnerHelpers.innerDoHelp",
      "com.example.helpers.Helpers.InnerInnerHelpers.innerInnerDoHelp"))

  private val javaImportExpectations: Seq[(String, String, String)] = Seq(
    ("java.util", "ArrayList", "com.example.app.Main.main"),
    ("java.util", "List", "com.example.app.Main.main"),
    ("java.lang.annotation", "Retention", "com.example.app.Traceable"),
    ("java.lang.annotation", "Target", "com.example.app.Traceable"))

  Seq(("kotlin", kotlinCallExpectations, kotlinImportExpectations),
      ("java", javaCallExpectations, javaImportExpectations)).foreach {
    case (dir, calls, imps) =>
      test(s"reference $dir fixtures: EXACT call-resolution parity with the " +
        s"reference's ${dir}/tests.rs expectations (${calls.size + imps.size} edges)") {
        assume(fixtures.isDirectory, "reference fixtures not present")
        val store = indexed(dir)
        val defs = store.definitions.select("id", "fqn")
        val callPairs = store.edges
          .where(col("kind") === EdgeKind.DefToDef &&
            col("type").isin(RelType.Calls, RelType.AmbiguouslyCalls))
          .join(defs.withColumnRenamed("id", "sid")
            .withColumnRenamed("fqn", "caller"), col("source_id") === col("sid"))
          .join(defs.withColumnRenamed("id", "tid")
            .withColumnRenamed("fqn", "callee"), col("target_id") === col("tid"))
          .select("caller", "callee").distinct().collect()
          .map(r => (r.getString(0), r.getString(1))).toSet
        val impPairs = store.edges
          .where(col("kind") === EdgeKind.DefToImp &&
            col("type").isin(RelType.Calls, RelType.AmbiguouslyCalls))
          .join(defs.withColumnRenamed("id", "sid")
            .withColumnRenamed("fqn", "caller"), col("source_id") === col("sid"))
          .join(store.importedSymbols.select(col("id").as("iid"),
            col("import_path"), col("name").as("iname")),
            col("target_id") === col("iid"))
          .select("caller", "import_path", "iname").distinct().collect()
          .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
        val callMisses = calls.filterNot { case (callee, callerSuffix) =>
          callPairs.exists { case (cr, ce) => ce == callee && cr.endsWith(callerSuffix) }
        }
        val impMisses = imps.filterNot { case (path, n, callerSuffix) =>
          impPairs.exists { case (cr, ip, in) =>
            in == n && (ip == path || ip == s"$path.$n") && cr.endsWith(callerSuffix) }
        }
        // Measured census: 44/44 reference assertions resolve (24 kotlin +
        // 20 java) as of round 3 — the floor is EVERY expectation
        assert(callMisses.isEmpty && impMisses.isEmpty,
          s"unresolved reference expectations in $dir: " +
            (callMisses.map(e => s"${e._1} <- ${e._2}") ++
              impMisses.map(e => s"import(${e._1},${e._2}) <- ${e._3}")).mkString("; "))
      }
  }

  // ---- Ruby resolution parity with the reference's own language tests:
  // every call-edge assertion hardcoded in
  // crates/indexer/src/analysis/languages/ruby/tests.rs:138-1019 over the
  // ruby-references fixture, expressed as (callee fqn, caller-fqn suffix)
  // with the reference's `#`/`::` separators both mapped to `.`. These need
  // the reference's Expression-Oriented Type Inference (constant receivers,
  // `.new` local typing, @ivar naming convention, implicit self) — the
  // RubyTypedResolver's job.
  private val rubyCallExpectations: Seq[(String, String)] = Seq(
    // tests.rs:175-180 notification service call resolution
    ("NotificationService.notify", "UsersController.destroy"),
    // tests.rs:197-216 welcome email chain
    ("User.send_welcome_email", "UsersController.create"),
    ("EmailService.send_welcome", "User.send_welcome_email"),
    // tests.rs:233-276 static method calls
    ("User.create_with_profile", "Application.test_user_creation_flow"),
    ("AuthService.create_session", "Application.test_authentication_flow"),
    ("AuthService.authenticate_token", "Application.test_authentication_flow"),
    ("AuthService.authenticate_token", "UsersController.authenticate_user"),
    ("AuthService.refresh_session", "Application.test_authentication_flow"),
    // tests.rs:338-380 chained method calls via @user / implicit self
    ("User.get_profile", "UsersController.show"),
    ("Profile.find_by_user_id", "User.get_profile"),
    ("User.get_profile", "User.update_profile"),
    // tests.rs:400-440 cross-file reference resolution
    ("User", "TestUtilities.create_test_data"), // User.create -> class edge
    ("Profile.create_default", "TestUtilities.create_test_data"),
    ("NotificationService.notify_all", "TestUtilities.send_bulk_notifications"),
    // tests.rs:522-592 service method call patterns
    ("NotificationService.notify", "User.send_notification"),
    ("EmailService.send_notification", "NotificationService.notify"),
    ("User", "NotificationService.send_batch_notifications"), // User.find
    ("NotificationService.notify", "NotificationService.send_batch_notifications"),
    // tests.rs:612-666 controller action call resolution
    ("User.get_profile", "UsersController.show"),
    ("User", "UsersController.activate"), // User.find -> class edge
    // tests.rs:799-813 nested method calls (implicit self composition)
    ("NotificationService.build_notification", "NotificationService.notify"),
    ("NotificationService.determine_delivery_method", "NotificationService.notify"),
    ("NotificationService.log_notification", "NotificationService.notify"),
    // tests.rs:919-932 block/iterator bodies
    ("NotificationService.notify", "NotificationService.notify_all"),
    // tests.rs:504-509 Profile static creation (via UsersController#create)
    ("Profile.create_default", "UsersController.create"))

  test("reference ruby fixtures: EXACT call-resolution parity with the " +
    s"reference's ruby/tests.rs expectations (${rubyCallExpectations.distinct.size} edges)") {
    assume(fixtures.isDirectory, "reference fixtures not present")
    val store = indexed("ruby-references")
    val defs = store.definitions.select("id", "fqn")
    val callPairs = store.edges
      .where(col("kind") === EdgeKind.DefToDef &&
        col("type").isin(RelType.Calls, RelType.AmbiguouslyCalls))
      .join(defs.withColumnRenamed("id", "sid")
        .withColumnRenamed("fqn", "caller"), col("source_id") === col("sid"))
      .join(defs.withColumnRenamed("id", "tid")
        .withColumnRenamed("fqn", "callee"), col("target_id") === col("tid"))
      .select("caller", "callee").distinct().collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val misses = rubyCallExpectations.distinct.filterNot { case (callee, callerSuffix) =>
      callPairs.exists { case (cr, ce) => ce == callee && cr.endsWith(callerSuffix) }
    }
    // Measured census: 25/25 distinct reference assertions resolve as of
    // round 3 — the floor is EVERY expectation
    assert(misses.isEmpty,
      s"unresolved ruby reference expectations: " +
        misses.map(e => s"${e._1} <- ${e._2}").mkString("; "))
  }

  test("reference typescript fixtures: the call edges the reference's own " +
    "e2e asserts (indexer/src/tests.rs:454-520) resolve") {
    assume(fixtures.isDirectory, "reference fixtures not present")
    val store = indexed("typescript")
    val defs = store.definitions.select("id", "fqn")
    val callPairs = store.edges
      .where(col("kind") === EdgeKind.DefToDef &&
        col("type").isin(RelType.Calls, RelType.AmbiguouslyCalls))
      .join(defs.withColumnRenamed("id", "sid")
        .withColumnRenamed("fqn", "caller"), col("source_id") === col("sid"))
      .join(defs.withColumnRenamed("id", "tid")
        .withColumnRenamed("fqn", "callee"), col("target_id") === col("tid"))
      .select("caller", "callee").distinct().collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    // tests.rs:492-495: Application::run -> Application::testAuthenticationProviders
    assert(callPairs.exists { case (cr, ce) =>
      cr.endsWith("Application.run") &&
        ce.endsWith("Application.testAuthenticationProviders") },
      s"missing run->testAuthenticationProviders in ${callPairs.size} pairs")
    // tests.rs:490: Authentication.createSession called in testTokenManagement
    assert(callPairs.exists { case (cr, ce) =>
      cr.endsWith("Application.testTokenManagement") &&
        ce.endsWith("createSession") },
      "missing testTokenManagement->createSession")
  }

  test("reference reindex scenario: the modify/add/delete script of " +
    "tests.rs:48-120 through the incremental path equals a from-scratch index") {
    assume(fixtures.isDirectory, "reference fixtures not present")
    import java.nio.file.{Files, Path}
    // copy test-repo to a scratch dir (the reference mutates a git clone)
    val src = new File(fixtures, "test-repo").toPath
    val repo = Files.createTempDirectory("graft-reindex")
    Files.walk(src).forEach { p =>
      val t = repo.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t)
    }
    def rw(rel: String)(f: String => String): Unit = {
      val p = repo.resolve(rel)
      Files.writeString(p, f(Files.readString(p)))
    }
    val before = Indexer.indexDirectory(spark, repo.toString, "test-repo")
    val defsBefore = before.definitions.count()

    // 1. base_model.rb: add a class method + leading whitespace
    rw("app/models/base_model.rb") { c =>
      "\n\n" + c.replace(
        "  def self.create(attributes)\n    instance = new(attributes)\n    instance.save\n    instance\n  end",
        "  def self.create(attributes)\n    instance = new(attributes)\n    instance.save\n    instance\n  end\n\n  def self.find_by_attributes(attrs)\n    where(attrs)\n  end")
    }
    // 2. new utility file with an external require
    Files.createDirectories(repo.resolve("app/utils"))
    Files.writeString(repo.resolve("app/utils/string_utils.rb"),
      "\n    require 'string_toolkit'\n    module StringUtils\n  def self.sanitize(str)\n    str.strip.downcase\n  end\n\n  def self.titleize(str)\n    str.split(' ').map(&:capitalize).join(' ')\n  end\nend")
    // 3. user_model.rb uses the new utils
    rw("app/models/user_model.rb") { c =>
      "require_relative '../utils/string_utils'\n\n" + c +
        "\n  # Add name formatting\n  def format_name\n    StringUtils.titleize(name)\n  end"
    }
    // 4. delete a method
    rw("app/models/base_model.rb") { c =>
      c.replace("  def to_h\n    instance_variables.each_with_object({}) do |var, hash|\n      key = var.to_s.delete('@').to_sym\n      hash[key] = instance_variable_get(var)\n    end\n  end\n\n", "")
    }

    import spark.implicits._
    val changed = Seq("app/models/base_model.rb", "app/utils/string_utils.rb",
      "app/models/user_model.rb")
    val freshFiles = graft.extract.FileScanner
      .scan(spark, repo.toString, "test-repo")
      .filter(f => changed.contains(f.path))
    // batch refs resolve against the MERGED graph
    val merged = graft.stream.IncrementalIndexer
      .applyReindexBatch(spark, before, changed, freshFiles)

    // script deltas: +find_by_attributes +StringUtils(3) +format_name -to_h
    assert(merged.definitions.count() === defsBefore + 4)
    val fqns = merged.definitions.select("fqn").as[String].collect().toSet
    assert(fqns.contains("BaseModel.find_by_attributes"))
    assert(fqns.contains("StringUtils.titleize"))
    assert(fqns.contains("StringUtils.sanitize"))
    // the script appends format_name AFTER the class's closing `end`
    // (tests.rs:93-96 does the same), so it is a top-level function
    assert(fqns.contains("format_name"))
    assert(merged.definitions.where(col("name") === "to_h" &&
      col("primary_file_path") === "app/models/base_model.rb").count() === 0)
    // the typed resolver sees the new cross-file call within the batch
    val defs = merged.definitions.select("id", "fqn")
    val calls = merged.edges
      .where(col("kind") === EdgeKind.DefToDef && col("type") === RelType.Calls)
      .join(defs.withColumnRenamed("id", "sid")
        .withColumnRenamed("fqn", "caller"), col("source_id") === col("sid"))
      .join(defs.withColumnRenamed("id", "tid")
        .withColumnRenamed("fqn", "callee"), col("target_id") === col("tid"))
      .select("caller", "callee").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(calls.contains(("format_name", "StringUtils.titleize")))
    // the strongest invariant: incremental == from-scratch on every table
    val scratch = Indexer.indexDirectory(spark, repo.toString, "test-repo")
    assert(merged.files.count() === scratch.files.count())
    assert(merged.directories.count() === scratch.directories.count())
    assert(merged.importedSymbols.count() === scratch.importedSymbols.count())
    assert(merged.definitions.count() === scratch.definitions.count())
    assert(merged.edges.groupBy("kind").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ===
      scratch.edges.groupBy("kind").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap)
  }

  test("self-indexing: the engine indexes its own Scala sources") {
    val src = new File("src/main/scala/graft")
    assume(src.isDirectory, "run from the repo root")
    val store = Indexer.indexDirectory(spark, src.getPath, "graft")
    assert(store.files.where(col("language") === "scala").count() > 20)
    val fqns = store.definitions.select("fqn").as[String](
      org.apache.spark.sql.Encoders.STRING).collect().toSet
    // a few load-bearing objects and methods must be found
    assert(fqns.contains("QueryLibrary"))
    assert(fqns.contains("Dedup"))
    assert(fqns.exists(_.endsWith("Dedup.minhashLshPairs")))
    assert(fqns.exists(_.endsWith("GraphStore.write")))
    // nesting edges derived from object.method FQNs
    assert(store.edges.where(col("kind") === EdgeKind.DefToDef).count() > 100)
  }

  // ---- C#/Rust analyzer parity ------------------------------------------
  // The reference ships no C#/Rust fixtures; the analyzers' testable
  // behavior is their relationship tables and definition-kind
  // simplifications (csharp.rs:148-320, rust.rs:276-326). These fixtures
  // exercise every table row the heuristic extractor can reach — including
  // Rust struct fields / enum variants and C# delegates (round 4) and C#
  // indexers / operator overloads / finalizers (round 5). C# fields/events
  // are dropped by the reference itself (csharp.rs:279,292 → None).

  private def indexInline(files: (String, String)*): graft.store.GraphStore = {
    val dir = java.nio.file.Files.createTempDirectory("graft-parity")
    files.foreach { case (name, content) =>
      val p = dir.resolve(name)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, content)
    }
    Indexer.indexDirectory(spark, dir.toString, "parity")
  }

  private def nestingEdges(store: graft.store.GraphStore): Set[(String, String, String)] = {
    val defs = store.definitions.select(col("id"), col("fqn"))
    store.edges.where(col("kind") === EdgeKind.DefToDef &&
        !col("type").isin(RelType.Calls, RelType.AmbiguouslyCalls,
          RelType.PropertyReference))
      .join(defs.select(col("id").as("sid"), col("fqn").as("pfqn")),
        col("source_id") === col("sid"))
      .join(defs.select(col("id").as("tid"), col("fqn").as("cfqn")),
        col("target_id") === col("tid"))
      .select("pfqn", "cfqn", "type").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
  }

  test("C# analyzer parity: csharp.rs definition kinds and relationship table") {
    val store = indexInline("svc/Service.cs" ->
      """using System;
        |using System.Collections.Generic;
        |
        |namespace App.Services {
        |    public interface IHandler {
        |        int Handle(string input);
        |        string Name { get; }
        |    }
        |
        |    public class Service : IHandler {
        |        public int Count { get; set; }
        |
        |        public Service(int count) {
        |            Count = count;
        |        }
        |
        |        public int Handle(string input) {
        |            return Helper(input.Length);
        |        }
        |
        |        private static int Helper(int n) {
        |            return n + 1;
        |        }
        |
        |        public int this[int i] { get { return i; } set { } }
        |
        |        public static Service operator +(Service a, Service b) {
        |            return a;
        |        }
        |
        |        public static bool operator ==(Service a, Service b) { return true; }
        |        public static bool operator !=(Service a, Service b) { return false; }
        |
        |        public static implicit operator Point(Service s) {
        |            return new Point();
        |        }
        |
        |        ~Service() { }
        |
        |        public class Inner {
        |            public void Run() { }
        |        }
        |    }
        |
        |    public enum Mode {
        |        Fast,
        |        Slow
        |    }
        |
        |    public struct Point {
        |        public int X { get; set; }
        |    }
        |
        |    public record Result {
        |        public int Code { get; set; }
        |    }
        |
        |    public delegate int Transform(string input);
        |}
        |""".stripMargin)
    val types = store.definitions.select("fqn", "definition_type").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // simplify_definition_type (csharp.rs:248-320): struct/record/enum →
    // Class; ctor/property first-class; namespace → Module (divergence note
    // in the extractor scaladoc)
    assert(types("App.Services") === "Module")
    assert(types("App.Services.IHandler") === "Interface")
    assert(types("App.Services.Service") === "Class")
    assert(types("App.Services.Mode") === "Class") // enum → Class
    assert(types("App.Services.Point") === "Class") // struct → Class
    assert(types("App.Services.Result") === "Class") // record → Class
    assert(types("App.Services.Transform") === "Class") // delegate → Class (csharp.rs:280)
    assert(types("App.Services.Service.Service") === "Constructor")
    assert(types("App.Services.Service.Count") === "Property")
    assert(types("App.Services.IHandler.Name") === "Property")
    assert(types("App.Services.Service.Handle") === "Method")
    assert(types("App.Services.Service.Helper") === "Method")
    assert(types("App.Services.IHandler.Handle") === "Method") // body-less
    assert(types("App.Services.Service.Inner") === "Class")
    // round-5: the formerly tree-sitter-only rows (csharp.rs:281-291
    // simplify_definition_type) — Indexer→Property, Operator→StaticMethod,
    // Finalizer→InstanceMethod; names follow the written form
    assert(types("App.Services.Service.this[]") === "Property")
    assert(types("App.Services.Service.operator+") === "Method")
    assert(types("App.Services.Service.operator==") === "Method")
    assert(types("App.Services.Service.operator!=") === "Method")
    assert(types("App.Services.Service.operatorPoint") === "Method") // conversion
    assert(types("App.Services.Service.~Service") === "Method") // finalizer
    // the tilde keeps the finalizer distinct from the constructor — the
    // conversion operator must NOT have been mis-refined into one either
    assert(types("App.Services.Service.Service") === "Constructor")

    val edges = nestingEdges(store)
    // csharp.rs:168-245's (parent, child) → relationship rows
    val expected = Set(
      ("App.Services.Service", "App.Services.Service.Count", "CLASS_TO_PROPERTY"),
      ("App.Services.Service", "App.Services.Service.Service", "CLASS_TO_CONSTRUCTOR"),
      ("App.Services.Service", "App.Services.Service.Handle", "CLASS_TO_METHOD"),
      ("App.Services.Service", "App.Services.Service.Helper", "CLASS_TO_METHOD"),
      ("App.Services.Service", "App.Services.Service.Inner", "CLASS_TO_CLASS"),
      ("App.Services.Service.Inner", "App.Services.Service.Inner.Run", "CLASS_TO_METHOD"),
      ("App.Services.IHandler", "App.Services.IHandler.Handle", "INTERFACE_TO_METHOD"),
      ("App.Services.IHandler", "App.Services.IHandler.Name", "INTERFACE_TO_PROPERTY"),
      ("App.Services.Point", "App.Services.Point.X", "CLASS_TO_PROPERTY"),
      ("App.Services.Result", "App.Services.Result.Code", "CLASS_TO_PROPERTY"),
      ("App.Services.Service", "App.Services.Service.this[]", "CLASS_TO_PROPERTY"),
      ("App.Services.Service", "App.Services.Service.operator+", "CLASS_TO_METHOD"),
      ("App.Services.Service", "App.Services.Service.~Service", "CLASS_TO_METHOD"))
    expected.foreach(e => assert(edges.contains(e), s"missing $e in $edges"))
    // enum members are values, not definitions (csharp.rs extracts none)
    assert(!types.contains("App.Services.Mode.Fast"))
    // supertype headers never create nesting rows (the table has no
    // class→interface row for `Service : IHandler` — that's not nesting)
    assert(!edges.exists(e => e._1.endsWith("IHandler") && e._2.endsWith("Service")))
  }

  test("Rust analyzer parity: rust.rs relationship table (module + member rules)") {
    val store = indexInline("src/lib.rs" ->
      """use std::collections::HashMap;
        |
        |pub mod engine {
        |    pub struct Core {
        |        size: usize,
        |    }
        |
        |    impl Core {
        |        pub fn new() -> Core {
        |            Core { size: 0 }
        |        }
        |
        |        pub fn run(&self) -> usize {
        |            self.size
        |        }
        |    }
        |
        |    pub trait Runner {
        |        fn start(&self);
        |    }
        |
        |    pub enum State {
        |        Idle,
        |        Busy,
        |    }
        |
        |    impl Runner for Core {
        |        fn start(&self) { }
        |    }
        |
        |    pub fn helper() -> usize {
        |        1
        |    }
        |}
        |
        |pub fn top_level() -> usize {
        |    2
        |}
        |""".stripMargin)
    val types = store.definitions.select("fqn", "definition_type").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(types("engine") === "Module")
    assert(types("engine.Core") === "Class") // struct (and its impl block)
    assert(types("engine.Runner") === "Interface") // trait
    assert(types("engine.State") === "Class") // enum
    assert(types("top_level") === "Function")
    assert(types.contains("engine.Core.new") && types.contains("engine.Core.run"))
    assert(types.contains("engine.Runner.start")) // body-less trait method
    // `impl Trait for Type` scopes members under the RECEIVING type: the
    // trait-impl'd start lands on Core, not on the Runner trait
    assert(types.contains("engine.Core.start"), s"impl-for receiver: $types")
    // struct fields and enum variants are definitions (rust.rs:288-299)
    assert(types("engine.Core.size") === "Field")
    assert(types("engine.State.Idle") === "Variant")
    assert(types("engine.State.Busy") === "Variant")
    // struct-literal expressions inside fn bodies are NOT fields
    assert(!types.keySet.exists(_.endsWith("new.size")))

    val edges = nestingEdges(store)
    // rust.rs:284-287: (Module, _) → MODULE_TO_SINGLETON_METHOD, for EVERY
    // module child kind
    for (child <- Seq("engine.Core", "engine.Runner", "engine.State", "engine.helper"))
      assert(edges.contains(("engine", child, "MODULE_TO_SINGLETON_METHOD")),
        s"module child $child: $edges")
    // rust.rs:288-326: member-of-type pairs all map to CLASS_TO_METHOD
    // (impl→method, trait→method, struct→field, enum→variant)
    assert(edges.contains(("engine.Core", "engine.Core.new", "CLASS_TO_METHOD")))
    assert(edges.contains(("engine.Core", "engine.Core.run", "CLASS_TO_METHOD")))
    assert(edges.contains(("engine.Runner", "engine.Runner.start", "CLASS_TO_METHOD")))
    assert(edges.contains(("engine.Core", "engine.Core.size", "CLASS_TO_METHOD")))
    assert(edges.contains(("engine.State", "engine.State.Idle", "CLASS_TO_METHOD")))
    assert(edges.contains(("engine.Core", "engine.Core.start", "CLASS_TO_METHOD")))
    // rust.rs:327: any other pair emits NO nesting edge
    val allowed = Set("MODULE_TO_SINGLETON_METHOD", "CLASS_TO_METHOD")
    assert(edges.filter(_._1.startsWith("engine")).forall(e => allowed(e._3)),
      s"unexpected rust nesting kinds: $edges")
  }

  test("reference Ruby test-repo: defs carry plausible positions and FQNs") {
    assume(fixtures.isDirectory, "reference fixtures not present")
    val store = indexed("test-repo")
    val defs = store.definitions
    assert(defs.where(col("start_line") <= 0).count() === 0)
    assert(defs.where(col("end_line") < col("start_line")).count() === 0)
    assert(defs.where(col("fqn").isNull || col("fqn") === "").count() === 0)
    // nested FQNs exist (Module.method / Class#method shapes)
    assert(defs.where(col("fqn").contains(".")).count() > 0)
  }
}
