package graft.analyze

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.model.{EdgeKind, RelType}
import graft.operators.BatchScope

/** A6 — interfile import resolution (reference:
  * analysis/languages/python/interfile.rs:8-170, analyzer.rs:643-898).
  *
  * `from foo.bar import x` resolves to, in order of candidates:
  *   - module file `foo/bar/x.py` or `foo/bar/x/__init__.py` → IMP→FILE
  *   - a definition named `x` in `foo/bar.py` / `foo/bar/__init__.py` → IMP→DEF
  *   - a re-exported import named/aliased `x` in those files → IMP→IMP
  *     (chains resolved by [[resolveReExportChains]], fixpoint with a cycle
  *     guard via max depth)
  * Relative imports (`from ..m import y`) resolve against the importing
  * file's directory. Candidate generation is a pure column computation
  * (explode of a deterministic path list); resolution is equi-joins against
  * the file / definition / import tables — no driver lookups.
  */
object PythonResolver {

  /** module dotted path → candidate relative file paths, given the importing
    * file's directory for relative imports.
    */
  private def candidateModulePaths(fileDir: org.apache.spark.sql.Column,
                                   importPath: org.apache.spark.sql.Column) = {
    val dots = length(importPath) - length(regexp_replace(importPath, "^\\.+", ""))
    val rest = regexp_replace(importPath, "^\\.+", "")
    val restSlash = regexp_replace(rest, "\\.", "/")
    // relative: strip (dots-1) trailing segments from fileDir
    val relBase = when(dots > 0,
      when(dots === 1, fileDir).otherwise(
        // remove dots-1 trailing path segments; supports up to 3 levels up
        when(dots === 2, regexp_replace(fileDir, "/[^/]+$", ""))
          .otherwise(regexp_replace(fileDir, "/[^/]+/[^/]+$", ""))))
    val base = when(dots > 0,
      when(length(restSlash) > 0, concat(relBase, lit("/"), restSlash))
        .otherwise(relBase))
      .otherwise(restSlash)
    base
  }

  /** Emits IMP→FILE, IMP→DEF, IMP→IMP edges (ids resolved). */
  /** `get_possible_symbol_locations` (interfile.rs:18-45) as a DataFrame
    * program: for each imported symbol, every module file its import path
    * can denote — the path resolved from the repo root, from each Python
    * package-root directory (parents of `__init__.py` packages —
    * types.rs:659-683 compute_root_dirs), and from the importing file's own
    * directory (interfile.rs:116-121); `.py` and `/__init__.py` variants;
    * dots-only relative imports (`from .. import x`) denote only the target
    * package's `__init__.py` (interfile.rs:88-93). Matching against the
    * file table is case-insensitive and the returned `path` is the real
    * (denormalized) one, mirroring the reference's normalized-tree lookup;
    * results are existence-filtered and deduped. Asserted against every
    * unit expectation in interfile.rs:219-407 by PythonInterfileSpec.
    *
    * Returns (imp_id, fid, path).
    */
  def possibleSymbolLocations(imps: DataFrame, files: DataFrame): DataFrame = {
    val fileDir = when(col("file_path").contains("/"),
      regexp_replace(col("file_path"), "/[^/]*$", "")).otherwise(lit(""))
    val base = candidateModulePaths(fileDir, col("import_path"))
    val w = imps.select(col("id").as("imp_id"),
      base.as("b_root"), fileDir.as("fdir"),
      col("import_path").startsWith(".").as("rel"),
      (regexp_replace(col("import_path"), "^\\.+", "") === "").as("dots_only"))
    // package-root dirs: parent of any dir holding an __init__.py (the
    // repo root itself is the b_root base); tiny, broadcast into the
    // candidate explode
    val rootDirs = files
      .where(col("path").endsWith("/__init__.py") &&
        size(split(col("path"), "/")) >= 3)
      .select(regexp_replace(col("path"), "/[^/]+/__init__\\.py$", "").as("rd"))
      .distinct()
    val absOnly = w.where(!col("rel") && length(col("b_root")) > 0)
    val bases = w.select(col("imp_id"), col("dots_only"), col("b_root").as("b"))
      .unionByName(absOnly.where(length(col("fdir")) > 0)
        .select(col("imp_id"), col("dots_only"),
          concat(col("fdir"), lit("/"), col("b_root")).as("b")))
      .unionByName(absOnly.crossJoin(broadcast(rootDirs))
        .select(col("imp_id"), col("dots_only"),
          concat(col("rd"), lit("/"), col("b_root")).as("b")))
    val cands = bases.where(length(col("b")) > 0 || col("dots_only"))
      .select(col("imp_id"), explode(when(col("dots_only"),
          array(concat(col("b"),
            when(length(col("b")) > 0, lit("/")).otherwise(lit("")),
            lit("__init__.py"))))
        .otherwise(array(concat(col("b"), lit(".py")),
          concat(col("b"), lit("/__init__.py"))))).as("cand"))
    cands.join(files.select(col("id").as("fid"), col("path")),
        lower(col("cand")) === lower(col("path")))
      // one row per (import, path) even if the file table carries duplicate
      // path rows — the reference's normalized tree is a map keyed by path
      .groupBy(col("imp_id"), col("path")).agg(min(col("fid")).as("fid"))
      .select("imp_id", "fid", "path")
  }

  def resolveImports(imps: DataFrame, files: DataFrame,
                     defs: DataFrame): DataFrame = {
    val fileDir = when(col("file_path").contains("/"),
      regexp_replace(col("file_path"), "/[^/]*$", "")).otherwise(lit(""))
    val base = candidateModulePaths(fileDir, col("import_path"))

    // TS/JS module specifiers are slash paths: './x' / '../x' resolve
    // against the importing file's directory (the reference's TS analyzer
    // delegates to the parser's module resolution); bare specifiers are
    // package imports with no repo file. Collapse ./ and ../ segments
    // textually (bounded depth, same trick as the python relative base).
    val tsJoined = when(col("import_path").startsWith("."),
      concat(fileDir, lit("/"), col("import_path"))).otherwise(lit(null))
    val tsFull = (1 to 4).foldLeft(
        regexp_replace(tsJoined, "/\\./", "/")) { (c, _) =>
      regexp_replace(c, "(^|/)[^/.][^/]*/\\.\\./", "$1")
    }

    val withCand = imps
      .where(col("import_type").isin("import", "from_import", "wildcard_import",
        "require", "require_relative", "named_import", "namespace_import",
        "default_import", "side_effect_import"))
      .select(col("id").as("imp_id"), col("import_type"), col("name"),
        base.as("modbase"), fileDir.as("fdir"),
        regexp_replace(tsFull, "^(\\./|/)", "").as("tsfull"))

    // candidate module files for the *name* (from X import name → X/name.py)
    val nameModule = when(col("import_type") === "from_import" && length(col("modbase")) > 0,
      concat(col("modbase"), lit("/"), col("name")))
      .when(col("import_type") === "from_import", col("name"))
      .otherwise(col("modbase"))

    // reference candidate generation for the python import path itself
    // (root dirs + importing dir, case-insensitive): module files the
    // imported symbol may live in
    val pyLocs = possibleSymbolLocations(
      imps.where(col("import_type").isin("import", "from_import",
        "wildcard_import")), files)

    // ruby require_relative resolves against the requiring file's directory
    val relRb = when(col("import_type") === "require_relative" &&
        length(col("fdir")) > 0,
      concat(col("fdir"), lit("/"), col("modbase"), lit(".rb")))
      .otherwise(concat(col("modbase"), lit(".rb")))
    val fileCands = withCand.select(col("imp_id"), explode(array(
      concat(nameModule, lit(".py")),
      concat(nameModule, lit("/__init__.py")),
      concat(col("modbase"), lit(".rb")),
      relRb,
      concat(col("tsfull"), lit(".ts")),
      concat(col("tsfull"), lit(".tsx")),
      concat(col("tsfull"), lit(".js")),
      concat(col("tsfull"), lit("/index.ts")))).as("cand"))
    // whole-module imports also take the reference candidate set (the
    // analyzer maps `import X` to its possible file — analyzer.rs:668-676)
    val fileTargets = fileCands
      .join(files.select(col("id").as("fid"), col("path")),
        lower(col("cand")) === lower(col("path")))
      .select(col("imp_id"), col("fid"))
      .unionByName(withCand.where(col("import_type").isin("import", "wildcard_import"))
        .join(pyLocs, "imp_id").select(col("imp_id"), col("fid")))
      .distinct()
    val impToFile = fileTargets.select(
      lit(EdgeKind.ImpToFile).as("kind"), lit(RelType.ImpToFile).as("type"),
      col("imp_id").as("source_id"), col("fid").as("target_id"))

    // symbol candidates: definition / re-export named `name` in any of the
    // import path's possible module files (python from-imports and TS named
    // imports alike)
    val tsSymCands = withCand
      .where(col("import_type") === "named_import" && col("tsfull").isNotNull)
      .select(col("imp_id"), col("name").as("sym"), explode(array(
        concat(col("tsfull"), lit(".ts")),
        concat(col("tsfull"), lit(".tsx")),
        concat(col("tsfull"), lit(".js")))).as("cand"))
    val symCands = withCand
      .where(col("import_type") === "from_import")
      .join(pyLocs, "imp_id")
      .select(col("imp_id"), col("name").as("sym"), col("path").as("cand"))
      .unionByName(tsSymCands)
    val impToDef = symCands
      .join(defs.select(col("id").as("did"), col("name").as("dname"),
          col("primary_file_path")),
        col("cand") === col("primary_file_path") && col("sym") === col("dname"))
      .select(lit(EdgeKind.ImpToDef).as("kind"), lit(RelType.ImpToDef).as("type"),
        col("imp_id").as("source_id"), col("did").as("target_id"))
      .distinct()
    val impToImp = symCands
      .join(imps.select(col("id").as("iid2"), col("name").as("iname"),
          col("alias").as("ialias"), col("file_path").as("ifile")),
        col("cand") === col("ifile") &&
          (col("sym") === coalesce(col("ialias"), col("iname"))))
      .select(lit(EdgeKind.ImpToImp).as("kind"), lit(RelType.ImpToImp).as("type"),
        col("imp_id").as("source_id"), col("iid2").as("target_id"))
      .distinct()

    impToFile.unionByName(impToDef).unionByName(impToImp)
  }

  /** Transitive resolution of re-export chains: follow IMP→IMP edges to a
    * terminal IMP→DEF / IMP→FILE, bounded by `maxDepth` (cycle guard —
    * reference: interfile.rs recursion with cycle set). Iterative join with
    * a [[BatchScope.localCheckpoint]] per hop, freed with the enclosing
    * batch. Returns (source_id, target_kind, target_id).
    */
  def resolveReExportChains(importEdges: DataFrame, maxDepth: Int = 10): DataFrame = {
    val impImp = importEdges.where(col("kind") === EdgeKind.ImpToImp)
      .select(col("source_id").as("src"), col("target_id").as("via"))
    val terminal = importEdges.where(col("kind") =!= EdgeKind.ImpToImp)
      .select(col("source_id").as("t_src"),
        when(col("kind") === EdgeKind.ImpToDef, "definition")
          .otherwise("file").as("target_kind"),
        col("target_id"))
    var frontier = BatchScope.localCheckpoint(impImp)
    var resolved = BatchScope.localCheckpoint(frontier
      .join(terminal, col("via") === col("t_src"))
      .select(col("src").as("source_id"), col("target_kind"), col("target_id")))
    var depth = 1
    var continue = frontier.limit(1).count() > 0
    while (continue && depth < maxDepth) {
      depth += 1
      val next = BatchScope.localCheckpoint(frontier
        .join(impImp.select(col("src").as("n_src"), col("via").as("n_via")),
          col("via") === col("n_src"))
        .select(col("src"), col("n_via").as("via")))
      continue = next.limit(1).count() > 0
      if (continue) {
        resolved = BatchScope.localCheckpoint(resolved.unionByName(
          next.join(terminal, col("via") === col("t_src"))
            .select(col("src").as("source_id"), col("target_kind"), col("target_id")))
          .distinct())
        frontier = next
      }
    }
    resolved
  }
}
