package graft.analyze

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.extract.{Extracted, Extractors, SourceFile}
import graft.model.{EdgeKind, RelType}
import graft.operators.BatchScope
import graft.store.GraphStore

/** The indexing dataflow (SURVEY §3.1 stages 3-5 as one job DAG):
  * files → mapPartitions(parse) → relationship-derivation joins → GraphStore.
  *
  * The analysis has two halves, split along what an edit invalidates:
  * [[perFile]] derives what depends only on one file's own content, and
  * [[wholeTree]] derives what depends on the whole tree. A full index runs
  * them in sequence; an incremental reindex runs the per-file half on the
  * changed files only and the whole-tree half once over the merged store.
  *
  * Scale shape: extraction is per-file map work; every join downstream is an
  * equi-join keyed by file path or natural key; nothing is collected to the
  * driver. Id assignment (dense, deterministic) happens once per node table,
  * only because the reference's store (and GraphX) wants integer ids — all
  * derivation joins run on natural keys.
  */
object Indexer {

  final case class FileMeta(path: String, absolutePath: String,
      repositoryName: String, name: String, extension: String, language: String)

  /** The edge kinds [[wholeTree]] derives from the whole store: directory
    * containment and import resolution. Every other kind is either
    * per-file or a call edge of the references it resolves.
    */
  private[graft] val WholeTreeKinds: Seq[String] = Seq(EdgeKind.DirToDir,
    EdgeKind.DirToFile, EdgeKind.ImpToImp, EdgeKind.ImpToDef, EdgeKind.ImpToFile)

  private val nulls = Seq(
    lit(null).cast("long").as("source_start_byte"),
    lit(null).cast("long").as("source_end_byte"),
    lit(null).cast("int").as("source_start_line"),
    lit(null).cast("int").as("source_end_line"),
    lit(null).cast("int").as("source_start_col"),
    lit(null).cast("int").as("source_end_col"))

  def index(spark: SparkSession, files: Dataset[SourceFile]): GraphStore = {
    val (fileMeta, rawDefs, rawImps, rawRefs, rawFacts) =
      extractTables(spark, files)
    fromParsed(spark, fileMeta, rawDefs, rawImps, rawRefs, rawFacts)
  }

  /** E1-E3 alone: per-file extraction (pure map; content never shuffled) to
    * the five parsed tables (fileMeta, defs, imports, references, type
    * facts) — the [[fromParsed]] input contract. The incremental path
    * extracts a change batch with it, then runs the two analysis halves.
    */
  def extractTables(spark: SparkSession, files: Dataset[SourceFile])
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    // parse once; everything below reuses it
    val extracted = BatchScope.localCheckpoint(files.mapPartitions { it =>
      it.map { f =>
        val e: Extracted = Extractors.extract(f)
        (FileMeta(f.path, f.absolutePath, f.repositoryName, f.name,
          f.extension, f.language), e.definitions, e.imports, e.references,
          e.typeFacts)
      }
    }.toDF("file", "definitions", "imports", "references", "typeFacts"))

    (extracted.select($"file.*"),
      extracted.select(explode($"definitions").as("d")).select($"d.*"),
      extracted.select(explode($"imports").as("im")).select($"im.*"),
      extracted.select(explode($"references").as("r")).select($"r.*"),
      extracted.select(explode($"typeFacts").as("tf")).select($"tf.*"))
  }

  /** A2-A10 over PRE-PARSED tables — the first-class ingestion path for
    * externally parsed input (SURVEY §7.4: the engine's dataflow must be
    * exercisable regardless of parser fidelity; a tree-sitter fleet or a
    * vendor export can hand its results straight to the analysis joins).
    *
    * Expected schemas: `fileMeta` = [[FileMeta]] columns; `rawDefs` /
    * `rawImps` / `rawRefs` = the extractor IR ([[graft.extract.RawDefinition]]
    * / RawImport / RawReference fields).
    */
  def fromParsed(spark: SparkSession, fileMeta: DataFrame, rawDefs: DataFrame,
                 rawImps: DataFrame, rawRefs: DataFrame): GraphStore = {
    import spark.implicits._
    fromParsed(spark, fileMeta, rawDefs, rawImps, rawRefs,
      spark.emptyDataset[graft.extract.RawTypeFact].toDF())
  }

  /** As above, plus the extractor's [[graft.extract.RawTypeFact]] stream:
    * when present, JVM-language (Java/Kotlin) call refs first go through
    * [[TypedResolver]] (receiver types, inheritance, inference) and only
    * unresolved sites fall back to the heuristic name-match resolver.
    */
  def fromParsed(spark: SparkSession, fileMeta: DataFrame, rawDefs: DataFrame,
                 rawImps: DataFrame, rawRefs: DataFrame,
                 rawFacts: DataFrame): GraphStore =
    wholeTree(spark, perFile(spark, fileMeta, rawDefs, rawImps), rawRefs, rawFacts)

  /** The per-file half: file nodes, A3 definitions, A4 imported symbols,
    * FILE_TO_DEF, FILE_TO_IMP and A5 nesting. Each row depends only on one
    * file's own content. The store it returns has no directories.
    */
  private[graft] def perFile(spark: SparkSession, fileMeta: DataFrame,
      rawDefs: DataFrame, rawImps: DataFrame): GraphStore = {
    // ---- file nodes ----------------------------------------------------
    val fileNodes = BatchScope.localCheckpoint(
      Analyzer.assignIds(fileMeta, Seq("path")))
    val filesDf = fileNodes.select(col("id"), col("path"),
      col("absolutePath").as("absolute_path"), col("language"),
      col("repositoryName").as("repository_name"),
      col("extension"), col("name"))

    // ---- A3: definition dedup by (fqn, file) + total_locations ---------
    val dedupedDefs = Analyzer.dedupDefinitions(rawDefs)
    val defNodes = BatchScope.localCheckpoint(Analyzer.assignIds(dedupedDefs,
      Seq("primary_file_path", "primary_start_byte", "fqn")))
    val definitions = defNodes.select(col("id"), col("fqn"), col("name"),
      col("definition_type"), col("primary_file_path"),
      col("primary_start_byte"), col("primary_end_byte"),
      col("start_line"), col("end_line"), col("start_col"), col("end_col"),
      col("total_locations"))

    // ---- A4: imported symbols ------------------------------------------
    val impNodes = BatchScope.localCheckpoint(Analyzer.assignIds(
      rawImps.dropDuplicates("filePath", "startByte", "name"),
      Seq("filePath", "startByte", "name")))
    val importedSymbols = impNodes.select(col("id"),
      col("importType").as("import_type"), col("importPath").as("import_path"),
      col("name"), col("alias"), col("filePath").as("file_path"),
      col("startByte").as("start_byte"), col("endByte").as("end_byte"),
      col("startLine").as("start_line"), col("endLine").as("end_line"),
      col("startCol").as("start_col"), col("endCol").as("end_col"))

    // ---------------- edges ----------------
    val fileIds = fileNodes.select(col("path").as("fpath"), col("id").as("file_id"))

    val fileDefines = definitions.join(fileIds,
        col("primary_file_path") === col("fpath"))
      .select(lit(EdgeKind.FileToDef).as("kind"),
        lit(RelType.FileDefines).as("type"),
        col("file_id").as("source_id"), col("id").as("target_id"))
      .select(col("*") +: nulls: _*)

    val fileImports = importedSymbols.join(fileIds, col("file_path") === col("fpath"))
      .select(lit(EdgeKind.FileToImp).as("kind"),
        lit(RelType.FileImports).as("type"),
        col("file_id").as("source_id"), col("id").as("target_id"))
      .select(col("*") +: nulls: _*)

    // ---- A5: typed nesting edges (same-file parent FQN join) -----------
    // the (parentType, childType) -> relationship mapping is language-aware
    // where the reference's analyzer is: rust.rs:276-326 routes EVERY Rust
    // module child to MODULE_TO_SINGLETON_METHOD, every member-of-type pair
    // to CLASS_TO_METHOD, and emits nothing for other pairs; all other
    // languages use the generic <PARENT>_TO_<CHILD> table
    // (relationship.rs:19-98, matching csharp.rs:168-245's pairs).
    val nestingEdges = {
      val d = definitions.select(col("id"), col("fqn"),
        col("definition_type"), col("primary_file_path"))
      val children = d.where(col("fqn").contains("."))
        .select(col("id").as("cid"), col("definition_type").as("ctype"),
          col("primary_file_path").as("cfile"),
          regexp_replace(col("fqn"), "\\.[^.]*$", "").as("parent_fqn"))
      val langByPath = filesDf
        .select(col("path").as("n_path"), col("language").as("n_lang"))
      val generic = concat(upper(col("definition_type")), lit("_TO_"),
        upper(col("ctype")))
      val relType = when(col("n_lang") === "rust",
          when(col("definition_type") === "Module",
            lit(RelType.ModuleToSingletonMethod))
          // member-of-type pairs all collapse to CLASS_TO_METHOD
          // (rust.rs:288-326: impl/trait→method, struct→field, enum→variant)
          .when(col("ctype").isin("Method", "Function", "Field", "Variant"),
            lit(RelType.ClassToMethod))
          .otherwise(lit(null)))
        .otherwise(generic)
      children.join(d,
          col("parent_fqn") === col("fqn") &&
            col("cfile") === col("primary_file_path"))
        // no broadcast hint: (path, language) is corpus-proportional — one
        // row per file — so forcing it onto the driver/executors breaks at
        // the 10M-file scale; AQE broadcasts it only while it is small
        .join(langByPath, col("cfile") === col("n_path"), "left_outer")
        .select(lit(EdgeKind.DefToDef).as("kind"), relType.as("type"),
          col("id").as("source_id"), col("cid").as("target_id"))
        .where(col("type").isNotNull)
        .select(col("*") +: nulls: _*)
    }

    GraphStore(noDirectories(spark), filesDf, definitions, importedSymbols,
      Seq(fileDefines, fileImports, nestingEdges).reduce(_.unionByName(_)))
  }

  /** `s` without what [[wholeTree]] derives: no directories and no edge of
    * [[WholeTreeKinds]]. The directories are an empty local table, so
    * merging them runs no Spark job.
    */
  private[graft] def withoutWholeTree(spark: SparkSession, s: GraphStore): GraphStore =
    s.copy(directories = noDirectories(spark),
      edges = s.edges.where(!col("kind").isin(WholeTreeKinds: _*)))

  private def noDirectories(spark: SparkSession): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      graft.model.Schemas.directoryNodes)

  /** The whole-tree half over `store`: A2 directories and DIR_* edges from
    * its files table, A6 import edges over its node tables, and A7 call
    * edges for `rawRefs` (with their `rawFacts`), which may cover fewer
    * files than the store does: a call from a changed file into an
    * unchanged file's definition resolves as a full index resolves it.
    * Typed (JVM + Ruby) resolution takes per-site precedence; the heuristic
    * name-match pass gets the remainder with import-scoped cross-file
    * candidates. The directories and [[WholeTreeKinds]] edges `store` held
    * are replaced; the call edges are appended to its other edges.
    */
  private[graft] def wholeTree(spark: SparkSession, store: GraphStore,
      rawRefs: DataFrame, rawFacts: DataFrame): GraphStore = {
    val files = store.files

    // ---- A2: directory hierarchy --------------------------------------
    val dirPaths = Analyzer.deriveDirectories(files)
    val dirNodes = BatchScope.localCheckpoint(Analyzer.assignIds(
      dirPaths.select("path", "parent_path", "name"),
      Seq("path"))) // reused by several edge branches
    val repoName = lit(files.select("repository_name").head(1)
      .headOption.map(_.getString(0)).getOrElse("repo"))
    val directories = dirNodes.select(col("id"), col("path"),
      col("path").as("absolute_path"), repoName.as("repository_name"), col("name"))
    val dirEdges = Analyzer.directoryEdges(dirPaths,
      dirNodes.select("path", "id"), files.select("path", "id"))
      .select(col("*") +: nulls: _*)

    // ---- A6: import resolution (Python candidate paths + re-exports) ---
    val importEdges = PythonResolver.resolveImports(
      store.importedSymbols, files, store.definitions).select(col("*") +: nulls: _*)

    // ---- A7: reference (call) resolution -------------------------------
    // (from_file, to_file) via resolved IMP_TO_FILE edges: enables the
    // import-scoped cross-file candidate lookup
    val importedFiles = importEdges.where(col("kind") === EdgeKind.ImpToFile)
      .join(store.importedSymbols.select(col("id").as("if_imp"),
        col("file_path").as("from_file")), col("source_id") === col("if_imp"))
      .join(files.select(col("id").as("if_file"), col("path").as("to_file")),
        col("target_id") === col("if_file"))
      .select("from_file", "to_file").distinct()
    // A7+: type-directed resolution for JVM languages and Ruby; resolved
    // sites take precedence — the heuristic pass only sees the remainder
    val fileMeta = files.select(col("path"),
      col("repository_name").as("repositoryName"), col("language"))
    val (typedEdges, typedSites) = TypedResolver.resolve(spark, fileMeta,
      rawFacts, rawRefs, store.definitions, store.importedSymbols)
    val (rubyEdges, rubySites) = RubyTypedResolver.resolve(spark, fileMeta,
      rawFacts, rawRefs, store.definitions)
    val remainingRefs = rawRefs.join(typedSites.unionByName(rubySites),
      Seq("filePath", "startByte", "endByte"), "left_anti")
    val callEdges = ReferenceResolver.resolve(remainingRefs, store.definitions,
      store.importedSymbols, Some(importedFiles))

    store.copy(directories = directories, edges = Seq(dirEdges,
      withoutWholeTree(spark, store).edges, importEdges, callEdges, typedEdges,
      rubyEdges).reduce(_.unionByName(_)))
  }

  /** Convenience: scan a local directory and index it. */
  def indexDirectory(spark: SparkSession, dir: String, repo: String): GraphStore =
    index(spark, graft.extract.FileScanner.scan(spark, dir, repo))

  /** Index a local directory into the store at `storeDir` as one batch: the
    * checkpoints the index makes are freed once the write returns or throws.
    */
  def indexTo(spark: SparkSession, dir: String, repo: String,
              storeDir: String): Unit =
    scala.util.Using.resource(BatchScope())(_ =>
      indexDirectory(spark, dir, repo).write(storeDir))
}
