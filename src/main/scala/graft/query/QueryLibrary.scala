package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.{EdgeKind, RelType}
import graft.store.GraphStore

/** The reference's ~25-query library (database/src/querying/library.rs,
  * mcp/src/tools, database/src/kuzu/service.rs) re-expressed as DataFrame
  * programs over a [[GraphStore]] (SURVEY §2.4 Q1-Q23).
  *
  * Differences by design (SURVEY §7.4):
  *  - every LIMIT is preceded by a canonical ORDER BY — the reference relies
  *    on Kuzu's unspecified order; ours is deterministic so results are
  *    golden-testable;
  *  - Cypher UNION dedup = `unionByName().distinct()` with id columns kept in
  *    the dedup key.
  *
  * Scale notes: all queries are node-edge-node equi-joins that shuffle on id
  * columns; node tables are broadcast when provably small (dirs), and every
  * `limit` is applied per-branch so Catalyst pushes it through unions.
  */
final class QueryLibrary(store: GraphStore) {

  import QueryLibrary._

  private def defs = store.definitions
  private def files = store.files
  private def imps = store.importedSymbols
  private def dirs = store.directories
  private def edges = store.edges

  // ---------------------------------------------------------------- Q1
  /** `get_import_usage` — reference library.rs:50-151.
    * Imports filtered by lower(import_path) IN paths (+optional name/alias
    * equality), joined to their file, LEFT OUTER joined (Cypher OPTIONAL
    * MATCH) to referencing definitions over DEF→IMP edges with
    * type IN (CALLS, AMBIGUOUSLY_CALLS); COALESCE(edge line, def line).
    */
  def importUsage(pathsLc: Seq[String], name: Option[String] = None,
                  alias: Option[String] = None, limit: Int = 50): DataFrame = {
    var imp = imps.where(lower(col("import_path")).isin(pathsLc: _*))
    name.foreach(n => imp = imp.where(col("name") === n))
    alias.foreach(a => imp = imp.where(col("alias") === a))
    val fileImp = edges.where(col("kind") === EdgeKind.FileToImp)
    val refEdges = edges
      .where(col("kind") === EdgeKind.DefToImp &&
        col("type").isin(RelType.callTypes: _*))
    val withFile = imp.alias("i")
      .join(fileImp.alias("fi"), col("i.id") === col("fi.target_id"))
      .join(files.alias("f"), col("fi.source_id") === col("f.id"))
    withFile
      .join(refEdges.alias("r"), col("i.id") === col("r.target_id"), "left_outer")
      .join(defs.alias("d"), col("r.source_id") === col("d.id"), "left_outer")
      .select(
        col("i.import_path").as("import_path"),
        col("i.name").as("import_name"),
        col("i.alias").as("import_alias"),
        col("f.path").as("file_path"),
        col("d.fqn").as("caller_fqn"),
        coalesce(col("r.source_start_line"), col("d.start_line")).as("ref_line"))
      .orderBy(col("import_path"), col("file_path"), col("caller_fqn"),
        col("ref_line"))
      .limit(limit)
  }

  // ---------------------------------------------------------------- Q2
  /** `get_dependency_import_paths_query` — library.rs:165-197. */
  def dependencyImportPaths(pathsLc: Seq[String], limit: Int = 50): DataFrame =
    imps
      .where(lower(coalesce(col("import_path"), lit(""))).isin(pathsLc: _*))
      .select(col("id").as("import_id"), col("import_path"),
        col("name").as("import_name"), col("alias").as("import_alias"),
        col("file_path"))
      .orderBy(col("import_id"))
      .limit(limit)

  // ---------------------------------------------------------------- Q3
  /** `get_definition_relations_query` — library.rs:292-332.
    * Undirected 1-hop from the definition with `fqn`: related definitions
    * (DEF↔DEF) and imported symbols (DEF↔IMP), any direction.
    */
  def definitionRelations(fqn: String, limit: Int = 100): DataFrame = {
    val src = defs.where(col("fqn") === fqn).select(col("id").as("src_id"))
    // id spaces overlap across node tables, so the symmetrized view must be
    // restricted to rows whose *self* side is a definition before joining by id.
    val sym = store.symmetrizedEdges
      .where(col("kind") === EdgeKind.DefToDef ||
        (col("kind") === EdgeKind.DefToImp && col("dir") === "out"))
    // hits = the 1-hop fan-out of ONE definition — bounded and tiny, so it
    // broadcasts into the node-table joins (no shuffle of defs/imps)
    val hits = broadcast(
      sym.join(broadcast(src), col("source_id") === col("src_id")))
    val toDefs = hits.where(col("kind") === EdgeKind.DefToDef)
      .join(defs.alias("d"), col("target_id") === col("d.id"))
      .select(col("type").as("rel_type"), col("dir"),
        lit("definition").as("related_kind"), col("d.id").as("related_id"),
        col("d.fqn").as("related_label"))
    val toImps = hits
      .where(col("kind") === EdgeKind.DefToImp)
      .join(imps.alias("i"), col("target_id") === col("i.id"))
      .select(col("type").as("rel_type"), col("dir"),
        lit("imported_symbol").as("related_kind"), col("i.id").as("related_id"),
        col("i.name").as("related_label"))
    toDefs.unionByName(toImps).distinct()
      .orderBy(col("related_kind"), col("related_id"), col("rel_type"), col("dir"))
      .limit(limit)
  }

  // ---------------------------------------------------------------- Q4
  /** `get_file_definitions_query` — library.rs:334-373. */
  def fileDefinitions(path: String, limit: Int = 100): DataFrame = {
    val f = files
      .where(col("path") === path || col("absolute_path") === path)
      .select(col("id").as("file_id"), col("path").as("file_path"))
    val fd = edges.where(col("kind") === EdgeKind.FileToDef)
    broadcast(f)
      .join(fd, col("file_id") === col("source_id"))
      .join(defs, col("target_id") === col("id"))
      .select(col("file_path"), col("fqn"), col("name"),
        col("definition_type"), col("start_line"), col("end_line"))
      .orderBy(col("start_line"), col("fqn"))
      .limit(limit)
  }

  // ---------------------------------------------------------------- Q5
  /** `get_file_imports_query` — library.rs:375-411. */
  def fileImports(path: String, limit: Int = 100): DataFrame = {
    val f = files
      .where(col("path") === path || col("absolute_path") === path)
      .select(col("id").as("file_id"), col("path").as("fpath"))
    val fi = edges.where(col("kind") === EdgeKind.FileToImp)
    broadcast(f)
      .join(fi, col("file_id") === col("source_id"))
      .join(imps, col("target_id") === col("id"))
      .select(col("fpath").as("file_path"), col("import_path"),
        col("name").as("import_name"), col("alias").as("import_alias"),
        col("id").as("import_id"))
      .orderBy(col("import_id"))
      .limit(limit)
  }

  // ---------------------------------------------------------------- Q6
  /** `get_list_matches_query` — library.rs:413-452. */
  def listMatches(substr: String, limit: Int = 100): DataFrame =
    defs
      .where(lower(col("fqn")).contains(substr.toLowerCase))
      .select(col("id").as("def_id"), col("fqn"), col("name"),
        col("definition_type"), col("primary_file_path"))
      .orderBy(col("fqn"), col("def_id"))
      .limit(limit)

  // ---------------------------------------------------------------- Q7
  /** `get_initial_project_graph_query` — library.rs:454-529.
    * 9 per-(src,rel,dst) sections, each with a per-priority LIMIT
    * (dirs 50, files 100, defs 200, imports 50 — library.rs:495-526),
    * schema-aligned and UNION-deduped.
    */
  def initialProjectGraph(directoryLimit: Int = 50, fileLimit: Int = 100,
      definitionLimit: Int = 200, importedSymbolLimit: Int = 50): DataFrame = {
    // Limit class per section priority (library.rs:464-474): dir sections
    // take directory_limit, dir→file takes file_limit, priority-3 sections
    // take definition_limit unless the target is an imported symbol, and
    // all imp-source sections take imported_symbol_limit.
    val sections = Seq(
      EdgeKind.DirToDir -> directoryLimit, EdgeKind.DirToFile -> fileLimit,
      EdgeKind.FileToDef -> definitionLimit, EdgeKind.FileToImp -> importedSymbolLimit,
      EdgeKind.DefToDef -> definitionLimit, EdgeKind.DefToImp -> importedSymbolLimit,
      EdgeKind.ImpToImp -> importedSymbolLimit, EdgeKind.ImpToDef -> importedSymbolLimit,
      EdgeKind.ImpToFile -> importedSymbolLimit)
    // 9 per-kind orderBy+limit sections (as in library.rs:495-526): Catalyst
    // plans each as TakeOrderedAndProject — a parallel partial top-k per
    // partition + tiny driver merge. (A single row_number window over
    // partitionBy(kind) computes the same rows but funnels each kind through
    // ONE reducer — the 600k-edge DEF_TO_IMP kind sorts single-threaded.)
    val sec = sections.map { case (k, n) =>
      edges.where(col("kind") === k)
        .select(col("kind"), col("type"), col("source_id"), col("target_id"))
        .orderBy(col("source_id"), col("target_id"), col("type"))
        .limit(n)
    }.reduce(_.unionByName(_))
    labelEndpoints(broadcast(sec)).distinct()
      .orderBy(col("kind"), col("source_id"), col("target_id"), col("rel_type"))
  }

  /** Attach (src_kind, src_label, dst_kind, dst_label) for edges of known
    * kinds using the per-kind endpoint node tables.
    */
  private def labelEndpoints(e: DataFrame): DataFrame = {
    val srcSide = nodeLabels.select(col("nkind").as("sk"),
      col("nid").as("sid"), col("nlabel").as("src_label"))
    val dstSide = nodeLabels.select(col("nkind").as("dk"),
      col("nid").as("did"), col("nlabel").as("dst_label"))
    e
      .withColumn("src_kind", kindFromSide(col("kind"), from = true))
      .withColumn("dst_kind", kindFromSide(col("kind"), from = false))
      .join(srcSide, col("source_id") === col("sid") && col("src_kind") === col("sk"))
      .join(dstSide, col("target_id") === col("did") && col("dst_kind") === col("dk"))
      .select(col("kind"), col("type").as("rel_type"),
        col("src_kind"), col("source_id"), col("src_label"),
        col("dst_kind"), col("target_id"), col("dst_label"))
  }

  /** One (nkind, nid, nlabel) row per node — labels are fqn for defs, name
    * for the rest. Used to hydrate edge endpoints.
    */
  private lazy val nodeLabels: DataFrame =
    dirs.select(lit("directory").as("nkind"), col("id").as("nid"), col("name").as("nlabel"))
      .unionByName(files.select(lit("file").as("nkind"), col("id").as("nid"), col("name").as("nlabel")))
      .unionByName(defs.select(lit("definition").as("nkind"), col("id").as("nid"), col("fqn").as("nlabel")))
      .unionByName(imps.select(lit("imported_symbol").as("nkind"), col("id").as("nid"), col("name").as("nlabel")))

  // ---------------------------------------------------------------- Q8
  /** `get_node_neighbors_query(nodeType)` — library.rs:667-785.
    * Undirected 1-hop neighborhood of one node.
    */
  def nodeNeighbors(nodeKind: String, nodeId: Long, limit: Int = 100): DataFrame = {
    val sym = store.symmetrizedEdges
      .withColumn("self_kind",
        when(col("dir") === "out", kindFromSide(col("kind"), from = true))
          .otherwise(kindFromSide(col("kind"), from = false)))
      .withColumn("neighbor_kind",
        when(col("dir") === "out", kindFromSide(col("kind"), from = false))
          .otherwise(kindFromSide(col("kind"), from = true)))
      .where(col("source_id") === nodeId && col("self_kind") === nodeKind)
    sym
      .join(nodeLabels, col("target_id") === col("nid") &&
        col("neighbor_kind") === col("nkind"))
      .select(col("type").as("rel_type"), col("dir"), col("neighbor_kind"),
        col("target_id").as("neighbor_id"), col("nlabel").as("neighbor_label"))
      .distinct()
      .orderBy(col("neighbor_kind"), col("neighbor_id"), col("rel_type"), col("dir"))
      .limit(limit)
  }

  // ---------------------------------------------------------------- Q9
  /** `get_search_nodes_query` — library.rs:787-918. Case-insensitive
    * CONTAINS across all 4 node types, schema-aligned union.
    */
  def searchNodes(term: String, limit: Int = 100): DataFrame = {
    val t = term.toLowerCase
    val d = dirs.where(lower(col("name")).contains(t) || lower(col("path")).contains(t))
      .select(lit("directory").as("node_type"), col("id").as("node_id"),
        col("name"), col("path").as("detail"))
    val f = files.where(lower(col("name")).contains(t) || lower(col("path")).contains(t))
      .select(lit("file").as("node_type"), col("id").as("node_id"),
        col("name"), col("path").as("detail"))
    val de = defs.where(lower(col("name")).contains(t) || lower(col("fqn")).contains(t))
      .select(lit("definition").as("node_type"), col("id").as("node_id"),
        col("name"), col("fqn").as("detail"))
    val i = imps.where(lower(col("name")).contains(t) ||
        lower(coalesce(col("alias"), lit(""))).contains(t))
      .select(lit("imported_symbol").as("node_type"), col("id").as("node_id"),
        col("name"), coalesce(col("import_path"), lit("")).as("detail"))
    d.unionByName(f).unionByName(de).unionByName(i).distinct()
      .orderBy(col("node_type"), col("name"), col("node_id"))
      .limit(limit)
  }

  // ---------------------------------------------------------------- Q10
  /** `get_search_definitions_query` — library.rs:920-969 + SKIP/LIMIT
    * pagination (mcp search_codebase_definitions.rs:86-93).
    * Multi-term OR match: ANY(term IN terms WHERE lower(name) CONTAINS term).
    */
  def searchDefinitions(terms: Seq[String], skip: Int = 0, limit: Int = 50): DataFrame = {
    val termsArr = array(terms.map(t => lit(t.toLowerCase)): _*)
    defs
      .where(exists(termsArr, t => lower(col("name")).contains(t)))
      .select(col("id").as("def_id"), col("name"), col("fqn"),
        col("definition_type"), col("primary_file_path"), col("start_line"))
      .orderBy(col("name"), col("def_id"))
      .offset(skip).limit(limit)
  }

  // ---------------------------------------------------------------- Q11
  /** `get_definitions_by_fqn_or_name_query` — library.rs:971-1013. */
  def definitionsByFqnOrName(path: String, substr: String, limit: Int = 100): DataFrame = {
    val s = substr.toLowerCase
    defs
      .where(col("primary_file_path") === path &&
        (lower(col("name")).contains(s) || lower(col("fqn")).contains(s)))
      .select(col("id").as("def_id"), col("fqn"), col("name"),
        col("definition_type"), col("start_line"))
      .orderBy(col("def_id"))
      .limit(limit)
  }

  // ---------------------------------------------------------------- Q12
  /** get_references (MCP) — mcp/src/tools/get_references/repository.rs:32-120.
    * Incoming DEF→DEF / DEF→IMP edges onto the definition named (name, path),
    * edge type IN referenceTypes, SKIP/LIMIT pagination.
    */
  def getReferences(name: String, path: String,
                    refTypes: Seq[String] = RelType.referenceTypes,
                    skip: Int = 0, limit: Int = 50): DataFrame = {
    val target = defs
      .where(col("name") === name && col("primary_file_path") === path)
      .select(col("id").as("tid"))
    val incoming = edges
      .where(col("kind") === EdgeKind.DefToDef && col("type").isin(refTypes: _*))
    incoming.join(broadcast(target), col("target_id") === col("tid"))
      .join(defs.alias("s"), col("source_id") === col("s.id"))
      .select(col("s.fqn").as("caller_fqn"), col("s.name").as("caller_name"),
        col("s.primary_file_path").as("caller_file"),
        col("type").as("rel_type"), col("source_start_line").as("ref_line"))
      .orderBy(col("caller_fqn"), col("ref_line"), col("rel_type"))
      .offset(skip).limit(limit)
  }

  // ---------------------------------------------------------------- Q13
  /** read_definitions (MCP) — read_definitions/repository.rs:47-90. */
  def readDefinitions(name: String, path: String): DataFrame =
    defs
      .where(col("name") === name && col("primary_file_path") === path)
      .select(col("id").as("def_id"), col("fqn"), col("name"),
        col("definition_type"), col("primary_file_path"),
        col("start_line"), col("end_line"))
      .orderBy(col("start_line"), col("def_id"))

  // ---------------------------------------------------------------- Q14
  /** repo_map (MCP) — repo_map/service.rs:46-60. */
  def repoMap(filePaths: Seq[String], skip: Int = 0, limit: Int = 200): DataFrame =
    defs
      .where(col("primary_file_path").isin(filePaths: _*))
      .select(col("primary_file_path"), col("start_line"), col("fqn"),
        col("name"), col("definition_type"), col("id").as("def_id"))
      .orderBy(col("primary_file_path"), col("start_line"), col("def_id"))
      .offset(skip).limit(limit)

  // ---------------------------------------------------------------- Q15
  /** get_definition (MCP) — get_definition/repository.rs:49-126.
    * Go-to-definition: from the reference site at (path, line, col∈range) over
    * call edges to the target definition / imported symbol. The col range is
    * a position-containment (range) predicate.
    */
  def definitionAt(path: String, line: Int, colNo: Int, limit: Int = 100): DataFrame = {
    val srcDefs = defs.where(col("primary_file_path") === path)
      .select(col("id").as("sid"))
    val callEdges = edges
      .where(col("kind").isin(EdgeKind.DefToDef, EdgeKind.DefToImp) &&
        col("type").isin(RelType.callTypes: _*) &&
        col("source_start_line") === line &&
        col("source_start_col") <= colNo && col("source_end_col") >= colNo)
    val hits = callEdges.join(broadcast(srcDefs), col("source_id") === col("sid"))
    val toDef = hits.where(col("kind") === EdgeKind.DefToDef)
      .join(defs.alias("t"), col("target_id") === col("t.id"))
      .select(lit("definition").as("target_kind"), col("t.id").as("target_id"),
        col("t.fqn").as("target_label"), col("t.primary_file_path").as("target_file"))
    val toImp = hits.where(col("kind") === EdgeKind.DefToImp)
      .join(imps.alias("t"), col("target_id") === col("t.id"))
      .select(lit("imported_symbol").as("target_kind"), col("t.id").as("target_id"),
        col("t.name").as("target_label"), col("t.file_path").as("target_file"))
    toDef.unionByName(toImp).distinct()
      .orderBy(col("target_kind"), col("target_id"))
      .limit(limit)
  }

  /** 2-hop motif: (a)-[e1]->(b)-[e2]->(c) with per-hop kind/type filters —
    * the pattern-match generalization of the 1-hop library queries (the
    * reference's Cypher could express this; its library never does).
    * One self-join of the edge table on b; distinct + total order + limit.
    */
  def twoHopMotif(kind1: String, types1: Seq[String],
                  kind2: String, types2: Seq[String],
                  limit: Int = 1000): DataFrame = {
    val e1 = edges.where(col("kind") === kind1 && col("type").isin(types1: _*))
      .select(col("source_id").as("a"), col("target_id").as("b"),
        col("type").as("t1"))
    val e2 = edges.where(col("kind") === kind2 && col("type").isin(types2: _*))
      .select(col("source_id").as("b2"), col("target_id").as("c"),
        col("type").as("t2"))
    e1.join(e2, col("b") === col("b2")).drop("b2")
      .select(col("a"), col("t1"), col("b"), col("t2"), col("c"))
      .distinct()
      .orderBy(col("a"), col("b"), col("c"), col("t1"), col("t2"))
      .limit(limit)
  }

  // ---------------------------------------------------------------- Q16
  /** search_codebase_definitions with file-content context
    * (mcp search_codebase_definitions.rs:167-304): Q10 plus the ±`contextLines`
    * lines around each hit, hydrated from a `(path, content)` table.
    * The reference does concurrent file reads with a 10s timeout; here
    * hydration is a join against the contents table — executor-side, no
    * driver IO, no timeout needed.
    */
  def searchDefinitionsWithContext(contents: DataFrame, terms: Seq[String],
      skip: Int = 0, limit: Int = 50, contextLines: Int = 3): DataFrame = {
    // localCheckpoint: hits is read twice below (path pull + final join);
    // eager materialization of <= `limit` rows beats re-running the search
    val hits = searchDefinitions(terms, skip, limit).localCheckpoint(true)
    // Prune contents down to the <= limit hit files BEFORE splitting, as a
    // LITERAL path filter rather than a join: a filter commutes with the
    // projection that builds `content`, so for computed contents the
    // (potentially huge) content expression is never evaluated for non-hit
    // files, and for stored contents the predicate pushes into the scan.
    // The driver-side collect is bounded by `limit` rows by construction.
    val hitPaths = hits.select(col("primary_file_path"))
      .where(col("primary_file_path").isNotNull).distinct()
      .collect().map(_.getString(0)).toSeq
    val lines = contents.where(col("path").isin(hitPaths: _*))
      .select(col("path").as("c_path"),
        split(col("content"), "\n").as("c_lines"))
    hits.join(broadcast(lines),
        col("primary_file_path") === col("c_path"), "left_outer")
      .withColumn("ctx_start", greatest(col("start_line") - contextLines, lit(0)))
      .withColumn("context", when(col("c_lines").isNotNull, array_join(
        slice(col("c_lines"), col("ctx_start") + 1,
          lit(2 * contextLines + 1)), "\n")))
      .drop("c_path", "c_lines")
      .orderBy(col("name"), col("def_id"))
  }

  // ---------------------------------------------------------------- Q24
  /** Dev `query` passthrough (gkg/src/commands/query.rs:12-66): the Cypher
    * string surface is superseded by full Spark SQL over the registered
    * node/edge views — strictly more expressive, same read-only contract.
    */
  def sql(spark: org.apache.spark.sql.SparkSession, text: String): DataFrame = {
    store.registerViews(spark)
    spark.sql(text)
  }

  // ---------------------------------------------------------------- Q17/Q18
  /** `get_by` point/batch lookup — query_builder.rs:114-131. */
  def getBy(table: DataFrame, column: String, values: Seq[Any]): DataFrame =
    table.where(col(column).isin(values: _*))

  /** `delete_by` + DETACH semantics — query_builder.rs:95-112; SURVEY M2.
    * Returns a new store with matching definitions removed and every edge
    * touching a removed node dropped (anti-joins; at scale this is a
    * partition-overwrite rewrite, not an in-place delete).
    */
  def detachDeleteDefinitions(column: String, values: Seq[Any]): GraphStore = {
    val doomed = defs.where(col(column).isin(values: _*)).select(col("id").as("xid"))
    val keptDefs = defs.join(broadcast(doomed), col("id") === col("xid"), "left_anti")
    val srcIsDef = col("kind").isin(EdgeKind.withSource("definition"): _*)
    val dstIsDef = col("kind").isin(EdgeKind.withTarget("definition"): _*)
    val keptEdges = edges
      .join(broadcast(doomed.withColumnRenamed("xid", "sdel")),
        srcIsDef && col("source_id") === col("sdel"), "left_anti")
      .join(broadcast(doomed.withColumnRenamed("xid", "tdel")),
        dstIsDef && col("target_id") === col("tdel"), "left_anti")
    store.copy(definitions = keptDefs, edges = keptEdges)
  }

  // ---------------------------------------------------------------- Q19-Q22
  /** `agg_node_by` (MAX id head — query_builder.rs:133-142). */
  def maxId(table: DataFrame): Long =
    table.agg(coalesce(max(col("id")), lit(-1L))).head().getLong(0)

  /** `count_nodes` / `count_nodes_by` — query_builder.rs:144-168. */
  def countNodesBy(table: DataFrame, column: String, values: Seq[Any]): Long =
    table.where(col(column).isin(values: _*)).count()

  /** `get_node_counts` + `get_relationship_counts` — query_builder.rs:177-209:
    * one row of per-table counts.
    */
  def graphStats(): DataFrame = {
    val n = dirs.agg(count(lit(1)).as("directory_count"))
      .crossJoin(files.agg(count(lit(1)).as("file_count")))
      .crossJoin(defs.agg(count(lit(1)).as("definition_count")))
      .crossJoin(imps.agg(count(lit(1)).as("imported_symbol_count")))
    val e = edges.groupBy().pivot("kind", EdgeKind.all).count().na.fill(0L)
    n.crossJoin(e)
  }

  /** `count_relationships_of_type` — query_builder.rs:211-241:
    * COUNT(DISTINCT (src,dst)) for one relationship type.
    */
  def countRelationshipsOfType(relType: String): Long =
    edges.where(col("type") === relType)
      .select(col("source_id"), col("target_id")).distinct().count()

  // ---------------------------------------------------------------- Q23
  /** Call-graph lookups — database/src/kuzu/service.rs:292-471. */
  def callsFrom(fqn: String, limit: Int = 100): DataFrame = {
    val src = defs.where(col("fqn") === fqn).select(col("id").as("sid"))
    edges.where(col("kind").isin(EdgeKind.DefToDef, EdgeKind.DefToImp) &&
        col("type").isin(RelType.callTypes: _*))
      .join(broadcast(src), col("source_id") === col("sid"))
      .join(nodeLabels,
        col("target_id") === col("nid") &&
        ((col("kind") === EdgeKind.DefToDef && col("nkind") === "definition") ||
         (col("kind") === EdgeKind.DefToImp && col("nkind") === "imported_symbol")))
      .select(col("nkind").as("callee_kind"), col("target_id").as("callee_id"),
        col("nlabel").as("callee_label"), col("type").as("rel_type"),
        col("source_start_line").as("call_line"))
      .orderBy(col("callee_kind"), col("callee_id"), col("call_line"))
      .limit(limit)
  }

  def callsTo(fqn: String, limit: Int = 100): DataFrame = {
    val dst = defs.where(col("fqn") === fqn).select(col("id").as("tid"))
    edges.where(col("kind") === EdgeKind.DefToDef &&
        col("type").isin(RelType.callTypes: _*))
      .join(broadcast(dst), col("target_id") === col("tid"))
      .join(defs.alias("s"), col("source_id") === col("s.id"))
      .select(col("s.fqn").as("caller_fqn"), col("type").as("rel_type"),
        col("source_start_line").as("call_line"))
      .orderBy(col("caller_fqn"), col("call_line"))
      .limit(limit)
  }

  /** Multi-hop call closure (generalization the reference lacks — SURVEY Q23
    * "reachability"): definitions reachable from `fqn` over call edges in at
    * most `maxHops` hops. Iterative join with a fixpoint check; each
    * iteration is one shuffle on target_id.
    *
    * Join strategy is frontier-size-adaptive: while the reached set stays
    * under `broadcastThreshold` rows, the frontier and seen sets broadcast
    * (the cached edge table is never shuffled — map-side hash joins); once
    * a high-fan-out closure outgrows the threshold the loop switches to
    * shuffle joins automatically, so callers cannot drive the driver OOM by
    * reaching for this on a whole-graph source. (GraphOps.kHopDf remains
    * the Pregel-shaped alternative for all-sources closures.)
    */
  def callClosure(fqn: String, maxHops: Int = 8,
                  broadcastThreshold: Long = 1000000L): DataFrame = {
    val callDefEdges = edges
      .where(col("kind") === EdgeKind.DefToDef &&
        col("type").isin(RelType.callTypes: _*))
      .select(col("source_id"), col("target_id")).distinct().cache()
    // localCheckpoint(eager) after every iteration: truncates the logical
    // plan so the per-hop lineage (and driver memory) stays O(1), not O(hops).
    var frontier = defs.where(col("fqn") === fqn)
      .select(col("id").as("node_id")).distinct().localCheckpoint(true)
    var reached = frontier.withColumn("hops", lit(0)).localCheckpoint(true)
    var reachedCount = reached.count()
    var hop = 0
    var growing = reachedCount > 0
    while (growing && hop < maxHops) {
      hop += 1
      val small = reachedCount <= broadcastThreshold
      def side(df: DataFrame): DataFrame = if (small) broadcast(df) else df
      val next = callDefEdges
        .join(side(frontier), col("source_id") === col("node_id"))
        .select(col("target_id").as("node_id")).distinct()
        .join(side(reached.select(col("node_id").as("seen"))),
          col("node_id") === col("seen"), "left_anti")
        .localCheckpoint(true)
      val nextCount = next.count()
      growing = nextCount > 0
      if (growing) {
        reached = reached.unionByName(next.withColumn("hops", lit(hop)))
          .localCheckpoint(true)
        reachedCount += nextCount
        frontier = next
      }
    }
    reached.join(defs, col("node_id") === col("id"))
      .select(col("node_id"), col("fqn"), col("name"), col("hops"))
      .orderBy(col("hops"), col("node_id"))
  }
}

object QueryLibrary {
  /** kind → endpoint node-table, as a Catalyst CASE expression (from=true
    * gives the source side, from=false the target side), built from
    * [[EdgeKind.endpoints]].
    */
  def kindFromSide(kind: Column, from: Boolean): Column = {
    EdgeKind.all.foldLeft(lit(null).cast("string")) { (acc, k) =>
      val (f, t) = EdgeKind.endpoints(k)
      when(kind === k, lit(if (from) f else t)).otherwise(acc)
    }
  }
}
