package graft.model

import org.apache.spark.sql.types._

/** Core typed-property-graph schemas.
  *
  * Mirrors the reference's four node tables + unified edge table
  * (reference: database/src/schema/init.rs:4-144), with u32 ids widened to
  * Long (Spark has no unsigned types — SURVEY §1.2).
  */
object Schemas {

  /** directory_nodes — reference: database/src/schema/init.rs:4-14 */
  val directoryNodes: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("path", StringType, nullable = false),
    StructField("absolute_path", StringType, nullable = true),
    StructField("repository_name", StringType, nullable = true),
    StructField("name", StringType, nullable = true)
  ))

  /** file_nodes — reference: database/src/schema/init.rs:16-28 */
  val fileNodes: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("path", StringType, nullable = false),
    StructField("absolute_path", StringType, nullable = true),
    StructField("language", StringType, nullable = true),
    StructField("repository_name", StringType, nullable = true),
    StructField("extension", StringType, nullable = true),
    StructField("name", StringType, nullable = true)
  ))

  /** definition_nodes — reference: database/src/schema/init.rs:30-47 */
  val definitionNodes: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("fqn", StringType, nullable = false),
    StructField("name", StringType, nullable = true),
    StructField("definition_type", StringType, nullable = true),
    StructField("primary_file_path", StringType, nullable = false),
    StructField("primary_start_byte", LongType, nullable = true),
    StructField("primary_end_byte", LongType, nullable = true),
    StructField("start_line", IntegerType, nullable = true),
    StructField("end_line", IntegerType, nullable = true),
    StructField("start_col", IntegerType, nullable = true),
    StructField("end_col", IntegerType, nullable = true),
    StructField("total_locations", IntegerType, nullable = true)
  ))

  /** imported_symbol_nodes — reference: database/src/schema/init.rs:50-67 */
  val importedSymbolNodes: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("import_type", StringType, nullable = true),
    StructField("import_path", StringType, nullable = true),
    StructField("name", StringType, nullable = true),
    StructField("alias", StringType, nullable = true),
    StructField("file_path", StringType, nullable = false),
    StructField("start_byte", LongType, nullable = true),
    StructField("end_byte", LongType, nullable = true),
    StructField("start_line", IntegerType, nullable = true),
    StructField("end_line", IntegerType, nullable = true),
    StructField("start_col", IntegerType, nullable = true),
    StructField("end_col", IntegerType, nullable = true)
  ))

  /** Unified edge table. The reference splits edges over 4 rel tables × 9
    * (from,to) pairs (database/src/schema/init.rs:96-137); we keep one table
    * with a `kind` discriminator — partition-prunable by kind at scale.
    */
  val edges: StructType = StructType(Seq(
    StructField("kind", StringType, nullable = false),
    StructField("type", StringType, nullable = false),
    StructField("source_id", LongType, nullable = false),
    StructField("target_id", LongType, nullable = false),
    StructField("source_start_byte", LongType, nullable = true),
    StructField("source_end_byte", LongType, nullable = true),
    StructField("source_start_line", IntegerType, nullable = true),
    StructField("source_end_line", IntegerType, nullable = true),
    StructField("source_start_col", IntegerType, nullable = true),
    StructField("source_end_col", IntegerType, nullable = true)
  ))
}

/** The 9 allowed (from,to) node-table pairs — reference:
  * database/src/schema/init.rs:96-137.
  */
object EdgeKind {
  val DirToDir = "DIR_TO_DIR"
  val DirToFile = "DIR_TO_FILE"
  val FileToDef = "FILE_TO_DEF"
  val FileToImp = "FILE_TO_IMP"
  val DefToDef = "DEF_TO_DEF"
  val DefToImp = "DEF_TO_IMP"
  val ImpToImp = "IMP_TO_IMP"
  val ImpToDef = "IMP_TO_DEF"
  val ImpToFile = "IMP_TO_FILE"
  val all: Seq[String] = Seq(DirToDir, DirToFile, FileToDef, FileToImp,
    DefToDef, DefToImp, ImpToImp, ImpToDef, ImpToFile)

  /** kind → (source node kind, target node kind). */
  val endpoints: Map[String, (String, String)] = Map(
    DirToDir -> ("directory", "directory"),
    DirToFile -> ("directory", "file"),
    FileToDef -> ("file", "definition"),
    FileToImp -> ("file", "imported_symbol"),
    DefToDef -> ("definition", "definition"),
    DefToImp -> ("definition", "imported_symbol"),
    ImpToImp -> ("imported_symbol", "imported_symbol"),
    ImpToDef -> ("imported_symbol", "definition"),
    ImpToFile -> ("imported_symbol", "file"))

  /** The kinds whose source (target) endpoint is node table `node`, in
    * [[all]] order. */
  def withSource(node: String): Seq[String] = all.filter(endpoints(_)._1 == node)
  def withTarget(node: String): Seq[String] = all.filter(endpoints(_)._2 == node)
}

/** Node-table tags, used to build GraphX vertex ids:
  * vertexId = (tag << 32) | id  (per-type id spaces overlap — SURVEY §1.2).
  */
object NodeTag {
  val Directory = 1L
  val File = 2L
  val Definition = 3L
  val ImportedSymbol = 4L
  def vertexId(tag: Long, id: Long): Long = (tag << 32) | id

  /** Column form of [[vertexId]] (ids are dense non-negative longs < 2^32,
    * so `tag*2^32 + id` ≡ `(tag << 32) | id`).
    */
  def vertexIdCol(tag: Long, id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.lit(tag << 32) + id
}

/** Fine-grained relationship types — reference:
  * database/src/graph/relationship.rs:5-115 (~45 kinds).
  */
object RelType {
  // containment
  val DirContainsDir = "DIR_CONTAINS_DIR"
  val DirContainsFile = "DIR_CONTAINS_FILE"
  val FileDefines = "FILE_DEFINES"
  val FileImports = "FILE_IMPORTS"
  // reference edges — relationship.rs:99-105
  val Calls = "CALLS"
  val AmbiguouslyCalls = "AMBIGUOUSLY_CALLS"
  val PropertyReference = "PROPERTY_REFERENCE"
  // import resolution edges — relationship.rs:106-112
  val ImpToImp = "IMPORTED_SYMBOL_TO_IMPORTED_SYMBOL"
  val ImpToDef = "IMPORTED_SYMBOL_TO_DEFINITION"
  val ImpToFile = "IMPORTED_SYMBOL_TO_FILE"

  val referenceTypes: Seq[String] = Seq(Calls, AmbiguouslyCalls, PropertyReference)
  val callTypes: Seq[String] = Seq(Calls, AmbiguouslyCalls)

  // nesting kinds with language-specific mappings (rust.rs:276-326 routes
  // every Rust module child here, and every member-of-type pair to
  // CLASS_TO_METHOD)
  val ClassToMethod = "CLASS_TO_METHOD"
  val ModuleToSingletonMethod = "MODULE_TO_SINGLETON_METHOD"

  /** Typed nesting edge for a (parentType, childType) definition pair —
    * reference: database/src/graph/relationship.rs:19-98 (30 combinations
    * MODULE_TO_*, CLASS_TO_*, FUNCTION_TO_*, LAMBDA_TO_*, METHOD_TO_*,
    * INTERFACE_TO_*).
    */
  def nesting(parentType: String, childType: String): String =
    s"${norm(parentType)}_TO_${norm(childType)}"

  private def norm(t: String): String = t.trim.toUpperCase match {
    case "MODULE" => "MODULE"
    case "CLASS" => "CLASS"
    case "FUNCTION" => "FUNCTION"
    case "METHOD" => "METHOD"
    case "LAMBDA" => "LAMBDA"
    case "INTERFACE" => "INTERFACE"
    case "ENUM" => "CLASS"
    case other => other
  }
}

/** Definition categories (reference parser-core's definition kinds). */
object DefType {
  val Module = "Module"
  val Class = "Class"
  val Function = "Function"
  val Method = "Method"
  val Interface = "Interface"
  val Lambda = "Lambda"
}
