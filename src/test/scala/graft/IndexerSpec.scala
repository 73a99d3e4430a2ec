package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.functions._
import graft.analyze.{Indexer, PythonResolver}
import graft.model.{EdgeKind, RelType}
import graft.query.QueryLibrary
import graft.stream.IncrementalIndexer

/** End-to-end: fixture tree → index → store assertions → query library →
  * incremental reindex (the reference's test pattern —
  * indexer/src/tests.rs:24-120).
  */
class IndexerSpec extends SparkSpec {

  private lazy val fixtureDir: Path = {
    val root = Files.createTempDirectory("graft-fixture")
    def write(rel: String, content: String): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, content)
    }
    write("app/__init__.py",
      """from .models import User
        |""".stripMargin)
    write("app/models.py",
      """class Base:
        |    def save(self):
        |        pass
        |
        |class User(Base):
        |    def __init__(self):
        |        self.name = build_name()
        |    def greet(self):
        |        return helper(self.name)
        |
        |def helper(x):
        |    return x
        |""".stripMargin)
    write("app/services.py",
      """from .models import User
        |from app.models import helper as h
        |
        |def auth():
        |    u = User()
        |    u.greet()
        |    return h(1)
        |""".stripMargin)
    write("main.py",
      """from app.services import auth
        |from app import User
        |import app.models
        |
        |def main():
        |    auth()
        |
        |main()
        |""".stripMargin)
    root
  }

  private lazy val store =
    Indexer.indexDirectory(spark, fixtureDir.toString, "fixture").cacheAll()
  private lazy val lib = new QueryLibrary(store)

  test("node counts and identities") {
    assert(store.files.count() == 4)
    assert(store.directories.count() == 1) // app/
    val fqns = store.definitions.select("fqn").collect().map(_.getString(0)).toSet
    assert(fqns == Set("Base", "Base.save", "User", "User.__init__",
      "User.greet", "helper", "auth", "main"))
    assert(store.importedSymbols.count() == 6)
    // ids dense per table
    val ids = store.definitions.select("id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (0L until 8L))
  }

  test("containment and nesting edges") {
    assert(store.edgesOfKind(EdgeKind.DirToFile).count() == 3)
    assert(store.edgesOfKind(EdgeKind.FileToDef).count() == 8)
    assert(store.edgesOfKind(EdgeKind.FileToImp).count() == 6)
    val nesting = store.edges
      .where(col("type").startsWith("CLASS_TO_")).count()
    assert(nesting == 3) // Base.save, User.__init__, User.greet
  }

  test("python import resolution: defs, files, re-export chain") {
    // from .models import User (x2), from app.models import helper,
    // from app.services import auth → IMP_TO_DEF
    assert(store.edgesOfKind(EdgeKind.ImpToDef).count() == 4)
    // import app.models → IMP_TO_FILE
    assert(store.edgesOfKind(EdgeKind.ImpToFile).count() == 1)
    // from app import User → re-export via app/__init__.py → IMP_TO_IMP
    assert(store.edgesOfKind(EdgeKind.ImpToImp).count() == 1)
    // chain resolves transitively to the User definition
    val resolved = PythonResolver.resolveReExportChains(
      store.edges.where(col("kind").isin(EdgeKind.ImpToImp, EdgeKind.ImpToDef,
        EdgeKind.ImpToFile)))
    val userDefId = store.definitions.where(col("fqn") === "User")
      .head().getLong(0)
    assert(resolved.where(col("target_kind") === "definition" &&
      col("target_id") === userDefId).count() >= 1)
  }

  test("reference resolution: calls and ambiguity typing") {
    val callEdges = store.edges.where(col("kind") === EdgeKind.DefToDef &&
      col("type") === RelType.Calls)
    val defById = store.definitions.select("id", "fqn").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = callEdges.select("source_id", "target_id").collect()
      .map(r => defById(r.getLong(0)) -> defById(r.getLong(1))).toSet
    assert(pairs.contains("User.greet" -> "helper"))
    // def→import calls: auth→User, auth→h, main→auth
    assert(store.edges.where(col("kind") === EdgeKind.DefToImp).count() == 3)
  }

  test("query library over an indexed store") {
    val fileDefs = lib.fileDefinitions("app/models.py").collect()
    assert(fileDefs.length == 6)
    assert(fileDefs.head.getAs[String]("fqn") == "Base")
    val matches = lib.listMatches("user").collect().map(_.getAs[String]("fqn"))
    assert(matches.toSet == Set("User", "User.__init__", "User.greet"))
    val refs = lib.getReferences("helper", "app/models.py").collect()
    assert(refs.map(_.getAs[String]("caller_fqn")).toSet == Set("User.greet"))
    val stats = lib.graphStats().head()
    assert(stats.getAs[Long]("definition_count") == 8)
    assert(lib.searchNodes("models").count() >= 2) // file node + dir-free hits
  }

  test("neighborhood, relations, go-to-definition over the code store") {
    val userId = store.definitions.where(col("fqn") === "User").head().getLong(0)
    // Q8: undirected neighborhood of the User class definition
    val nbrs = lib.nodeNeighbors("definition", userId).collect()
    val labels = nbrs.map(_.getAs[String]("neighbor_label")).toSet
    assert(labels.contains("User.__init__")) // nesting out-edges
    assert(labels.contains("User.greet"))
    assert(labels.contains("models.py")) // reversed FILE_TO_DEF
    // Q3: undirected 1-hop relations of User
    val rels = lib.definitionRelations("User").collect()
    assert(rels.map(_.getAs[String]("rel_type")).toSet.contains("CLASS_TO_METHOD"))
    // Q7: whole-project exploration graph is non-empty and labeled
    val ig = lib.initialProjectGraph().collect()
    assert(ig.length > 10)
    assert(ig.forall(r => r.getAs[String]("src_label") != null))
    // Q15: go-to-definition at the helper(...) call site inside User.greet
    val call = store.edges
      .where(col("kind") === graft.model.EdgeKind.DefToDef &&
        col("type") === graft.model.RelType.Calls)
      .join(store.definitions.where(col("fqn") === "helper")
        .select(col("id").as("tid")), col("target_id") === col("tid"))
      .head()
    val hit = lib.definitionAt("app/models.py",
      call.getAs[Int]("source_start_line"),
      call.getAs[Int]("source_start_col")).collect()
    assert(hit.map(_.getAs[String]("target_label")).contains("helper"))
  }

  test("search with file-content context hydration (Q16)") {
    import spark.implicits._
    val contents = graft.extract.FileScanner
      .scan(spark, fixtureDir.toString, "fixture")
      .map(f => (f.path, f.content)).toDF("path", "content")
    val hits = lib.searchDefinitionsWithContext(contents, Seq("greet"))
      .collect()
    assert(hits.length == 1)
    val ctx = hits.head.getAs[String]("context")
    assert(ctx.contains("def greet"))
    assert(ctx.contains("helper(self.name)"))
  }

  test("sql passthrough over registered views (Q24)") {
    val n = lib.sql(spark,
      """SELECT count(*) AS n FROM definition_nodes d
         JOIN edges e ON e.kind = 'FILE_TO_DEF' AND e.target_id = d.id""")
      .head().getLong(0)
    assert(n == 8)
  }

  test("store round-trips through parquet") {
    val out = Files.createTempDirectory("graft-store").toString
    store.write(out)
    val back = graft.store.GraphStore.read(spark, out)
    assert(back.definitions.count() == 8)
    assert(back.edges.count() == store.edges.count())
    assert(back.edges.schema.fieldNames.toSeq ==
      graft.model.Schemas.edges.fieldNames.toSeq)
  }

  test("incremental reindex: cascading delete then re-add") {
    import spark.implicits._
    val changed = Seq("app/services.py").toDF("changed_path")
    val afterDelete = IncrementalIndexer.applyCascadingDeletes(store, changed)
    assert(afterDelete.files.count() == 3)
    assert(afterDelete.definitions.where(col("fqn") === "auth").count() == 0)
    // no dangling edges onto deleted defs/imports
    val deletedImps = store.importedSymbols
      .where(col("file_path") === "app/services.py")
      .select("id").collect().map(_.getLong(0)).toSet
    val dangling = afterDelete.edges
      .where(col("kind") === EdgeKind.FileToImp &&
        col("target_id").isin(deletedImps.toSeq: _*)).count()
    assert(dangling == 0)
    // re-add a fresh analysis of the changed file → counts restored
    val freshFiles = graft.extract.FileScanner.scan(spark, fixtureDir.toString, "fixture")
      .filter(_.path == "app/services.py")
    val fresh = Indexer.index(spark, freshFiles)
    val merged = IncrementalIndexer.applyReindexBatch(store, changed, fresh)
    assert(merged.files.count() == 4)
    assert(merged.definitions.where(col("fqn") === "auth").count() == 1)
    // id spaces must be rebuilt, not collided: ids dense + unique per table
    def idsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(idsOf(merged.files) == (0L until 4L))
    assert(idsOf(merged.definitions) == (0L until merged.definitions.count()))
    assert(idsOf(merged.importedSymbols) ==
      (0L until merged.importedSymbols.count()))
    // edges remapped through natural keys: id-joined queries still correct
    val mlib = new graft.query.QueryLibrary(merged)
    val mdefs = mlib.fileDefinitions("app/services.py").collect()
    assert(mdefs.map(_.getAs[String]("fqn")).toSeq == Seq("auth"))
    assert(mlib.fileDefinitions("app/models.py").count() == 6)
    // same total edge census as a from-scratch index of the same tree
    val full = Indexer.indexDirectory(spark, fixtureDir.toString, "fixture")
    assert(merged.edges.groupBy("kind").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ==
      full.edges.groupBy("kind").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap)
  }

  test("graphx bridge: khop + degrees") {
    val g = graft.graph.GraphOps.toTopology(store)
    assert(g.vertices.count() ==
      store.directories.count() + store.files.count() +
        store.definitions.count() + store.importedSymbols.count())
    val mainId = store.definitions.where(col("fqn") === "main").head().getLong(0)
    val start = graft.model.NodeTag.vertexId(graft.model.NodeTag.Definition, mainId)
    val reach = graft.graph.GraphOps.kHopFrom(g, start, 5)
    assert(reach(start) == 0)
    assert(reach.size > 1) // main → auth import → ...
    val deg = graft.graph.GraphOps.degreeByKindOf(g, spark).collect()
    assert(deg.nonEmpty)
  }
}
