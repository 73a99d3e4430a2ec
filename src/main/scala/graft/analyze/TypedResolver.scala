package graft.analyze

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.{EdgeKind, RelType}

/** A7+ — type-directed reference resolution for the JVM languages, the
  * DataFrame-era counterpart of the reference's per-language expression
  * resolvers (kotlin/expression_resolver.rs:103-1757 ~1.7 kLoC,
  * java/expression_resolver.rs ~830 LoC). Consumes the extractor's
  * [[graft.extract.RawTypeFact]] stream and resolves receiver-typed calls:
  *
  *  - local/field/param variable types (`val foo = Foo(); foo.foo()`)
  *  - receiver chains through fields and nested types
  *    (`myParameter.executor.execute()`, `Outer.Inner.innerStatic()`)
  *  - `super.m()` through declared supertype lists, `this.m()`
  *  - inherited methods via the supertype closure (Foo : Bar : Baz → baz())
  *  - companion-object members (`foo.companionFoo()` →
  *    Foo.Companion.companionFoo)
  *  - multi-branch initializer inference with least-upper-bound unification
  *    (`val p = when {...Admin()...User()}` → LUB(Admin, User) = Person)
  *  - call-chaining through return types (`f(x).getName()`), Kotlin
  *    operator desugaring (`(a + b).display()` → plus/display)
  *  - Kotlin extension functions/properties as a member-lookup fallback
  *  - unresolvable receivers/names that match an import → DEF_TO_IMP
  *    (`logger.info(...)` with `import org.slf4j.Logger` → the Logger
  *    imported symbol, the reference's find_calls_to_imported_symbol face)
  *
  * Scale shape: catalog inputs (definitions, type facts, imports) and refs
  * are tagged rows grouped by `repository_name` and processed with
  * `flatMapSortedGroups` — the tag sorts catalog rows ahead of refs inside
  * each group, so one executor task builds THAT repo's catalog in memory
  * (the reference's own per-repo registry model,
  * kotlin/expression_resolver.rs:89-101) and then streams the repo's refs
  * through it lazily. Nothing is collected to the driver; memory per task
  * is one repo's catalog (O(classes + imports + facts), kilobytes to a few
  * MB for a monorepo), never the ref volume, and repos resolve in parallel.
  */
object TypedResolver {
  import CatRow.{TagDef, TagFact, TagImp, TagRef}

  private val JvmLanguages = Set("java", "kotlin")

  private[analyze] final case class TypeInfo(
      fqn: String, name: String, pkg: String, file: String, defId: Long,
      methods: Map[String, Long], nested: Map[String, String],
      fields: Map[String, String], supers: Seq[String])

  private[analyze] final case class FileScope(
      pkg: String,
      imports: Map[String, (String, Long)], // name/alias -> (path, imp id)
      wildcardPkgs: Seq[String],
      funcs: Map[String, Long]) // top-level function name -> def id

  private[analyze] final case class Catalog(
      types: Map[String, TypeInfo],
      byPkgName: Map[(String, String), String], // (pkg, simple) -> type fqn
      pkgFuncs: Map[(String, String), Long], // (pkg, name) -> func def id
      funcFqn: Map[Long, String], // def id -> fqn (functions)
      scopes: Map[String, FileScope],
      vars: Map[(String, String, String), String], // (file, scope, name) -> type expr
      props: Map[(String, String), String], // (recv simple name, prop) -> type expr
      returns: Map[(String, String), String]) { // (file, method fqn) -> type expr

    def superClosure(fqn: String): Set[String] = {
      val seen = scala.collection.mutable.Set[String]()
      def walk(t: String): Unit = if (!seen(t)) {
        seen += t
        types.get(t).foreach { ti =>
          ti.supers.flatMap(resolveSuper(ti, _)).foreach(walk)
        }
      }
      walk(fqn)
      seen.toSet
    }

    /** Resolve a raw supertype name in the subject type's own scope:
      * enclosing-scope nested members → imports → same package → wildcard
      * packages. A candidate that is the subject itself or one of its OWN
      * nested members is skipped (ServerFilter implements Filter, where the
      * nested Filter extends ServerFilter: javac resolves the header to the
      * top-level interface; taking the nested member would make the
      * hierarchy cyclic).
      *
      * `inheritedNested = false`: supertype-name resolution must never
      * consult the supertype closure it is itself the step function of —
      * the mutual recursion (resolveSuper → nestedOf → superClosureLinear
      * → resolveSuper, each with a fresh cycle guard) overflowed the stack
      * on adversarial hierarchies, found by TypedResolverPropertySpec. The
      * cost is one rare javac corner dropped conservatively: an `extends
      * Outer.Inner` where Inner is a member type Outer only INHERITS now
      * resolves to nothing instead of the inherited member.
      */
    def resolveSuper(sub: TypeInfo, raw: String): Option[String] = {
      val cands = resolveTypePath(sub.file, sub.fqn, raw, inheritedNested = false)
      cands.find(c => c != sub.fqn && !c.startsWith(sub.fqn + "."))
    }

    /** All candidate type FQNs for a (possibly dotted) type path, seen from
      * `scopeFqn` inside `file`, in lookup-precedence order.
      */
    def resolveTypePath(file: String, scopeFqn: String, path: String,
        inheritedNested: Boolean = true): Seq[String] = {
      val parts = path.split("\\.").toSeq.filter(_.nonEmpty)
      if (parts.isEmpty) return Nil
      val heads = resolveHeadType(file, scopeFqn, parts.head)
      parts.tail.foldLeft(heads) { (acc, p) =>
        acc.flatMap(t => if (inheritedNested) nestedOf(t, p)
                         else nestedOfDirect(t, p))
      }
    }

    private def nestedOf(fqn: String, n: String): Seq[String] =
      // nested member of the type or anywhere up its supertype closure
      superClosureLinear(fqn).flatMap(t => types.get(t).flatMap(_.nested.get(n)))

    private def nestedOfDirect(fqn: String, n: String): Seq[String] =
      types.get(fqn).flatMap(_.nested.get(n)).toSeq

    private def superClosureLinear(fqn: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer[String]()
      val seen = scala.collection.mutable.Set[String]()
      def walk(t: String): Unit = if (!seen(t)) {
        seen += t; out += t
        types.get(t).foreach(ti => ti.supers.flatMap(resolveSuper(ti, _)).foreach(walk))
      }
      walk(fqn)
      out.toSeq
    }

    /** Simple type name → candidate FQNs in precedence order: enclosing
      * scopes' nested members (and the enclosing types themselves), explicit
      * imports, same package, wildcard-import packages.
      */
    def resolveHeadType(file: String, scopeFqn: String, n: String): Seq[String] = {
      val scope = scopes.getOrElse(file, FileScope("", Map.empty, Nil, Map.empty))
      val out = scala.collection.mutable.ArrayBuffer[String]()
      // enclosing chain: self-named + nested members
      var enc = scopeFqn
      while (enc.nonEmpty) {
        types.get(enc).foreach { ti =>
          if (ti.name == n) out += ti.fqn
          ti.nested.get(n).foreach(out += _)
        }
        enc = parentOf(enc)
      }
      scope.imports.get(n).foreach { case (p, _) =>
        if (types.contains(p)) out += p
      }
      byPkgName.get((scope.pkg, n)).foreach(out += _)
      scope.wildcardPkgs.foreach(wp => byPkgName.get((wp, n)).foreach(out += _))
      out.distinct.toSeq
    }

    def parentOf(fqn: String): String = {
      val i = fqn.lastIndexOf('.')
      if (i < 0) "" else fqn.substring(0, i)
    }

    /** Innermost enclosing TYPE of a definition fqn (the def itself if it
      * is a type).
      */
    def enclosingType(fqn: String): Option[String] = {
      var f = fqn
      while (f.nonEmpty && !types.contains(f)) f = parentOf(f)
      if (f.nonEmpty) Some(f) else None
    }

    /** Method member (or companion member / nested-type constructor) lookup
      * across the supertype closure. Returns (target def id, owner fqn).
      */
    def memberMethod(fqn: String, n: String): Option[Long] =
      superClosureLinear(fqn).iterator.flatMap { t =>
        types.get(t).flatMap { ti =>
          ti.methods.get(n)
            .orElse(ti.nested.get("Companion")
              .flatMap(c => types.get(c)).flatMap(_.methods.get(n)))
            .orElse(ti.nested.get(n).flatMap(nf => types.get(nf)).map(_.defId))
        }
      }.nextOption()

    def memberFieldType(fqn: String, n: String): Option[(String, String)] =
      // (raw type expr, declaring file) — var facts scoped to the type fqn
      superClosureLinear(fqn).iterator.flatMap { t =>
        types.get(t).flatMap(ti => ti.fields.get(n).map(e => (e, ti.file)))
      }.nextOption()
  }

  /** Resolve JVM-language refs. Returns (edges, resolvedSites) where
    * resolvedSites = (filePath, startByte, endByte) rows the heuristic
    * resolver should skip (typed resolution takes per-site precedence).
    */
  def resolve(spark: SparkSession, fileMeta: DataFrame, rawFacts: DataFrame,
              rawRefs: DataFrame, definitions: DataFrame,
              importedSymbols: DataFrame): (DataFrame, DataFrame) = {
    import spark.implicits._

    val jvmFiles = fileMeta.where(col("language").isin(JvmLanguages.toSeq: _*))
      .select(col("path").as("jvm_path"), col("repositoryName").as("repo"))
    if (jvmFiles.isEmpty) {
      val emptyEdges = spark.emptyDataset[EdgeRow].toDF()
      val emptySites = spark.emptyDataset[SiteRow].toDF()
      return (emptyEdges, emptySites)
    }
    // pre-parsed tables from older producers lack the chain pre-pass's
    // callReceiver column — default it so the 5-arg fromParsed path keeps
    // accepting the previous schema (refs then resolve as bare calls)
    val refsIn =
      if (rawRefs.columns.contains("callReceiver")) rawRefs
      else rawRefs.withColumn("callReceiver", lit(""))

    val pad = Seq(lit("").as("s5"), lit(0L).as("sb"), lit(0L).as("eb"),
      lit(0).as("line"), lit(0).as("sc"), lit(0).as("ec"))
    // ---- tagged catalog rows (defs / facts / imports), keyed by repo ----
    val defRows = definitions.join(broadcast(jvmFiles),
        col("primary_file_path") === col("jvm_path"))
      .select(Seq(col("repo"), lit(TagDef).as("tag"), col("id"),
        col("fqn").as("s1"), col("name").as("s2"),
        col("definition_type").as("s3"),
        col("primary_file_path").as("s4")) ++ pad: _*)
    val factRows = rawFacts.join(broadcast(jvmFiles),
        col("filePath") === col("jvm_path"))
      .select(Seq(col("repo"), lit(TagFact).as("tag"), lit(0L).as("id"),
        col("filePath").as("s1"), col("factKind").as("s2"),
        col("scope").as("s3"), col("subject").as("s4"),
        col("detail").as("s5"), lit(0L).as("sb"), lit(0L).as("eb"),
        lit(0).as("line"), lit(0).as("sc"), lit(0).as("ec")): _*)
    val impRows = importedSymbols.join(broadcast(jvmFiles),
        col("file_path") === col("jvm_path"))
      .select(Seq(col("repo"), lit(TagImp).as("tag"), col("id"),
        col("import_path").as("s1"), col("name").as("s2"),
        col("alias").as("s3"), col("file_path").as("s4")) ++ pad: _*)

    // ---- caller attribution: innermost enclosing definition ----
    val refs = refsIn.join(broadcast(jvmFiles), col("filePath") === col("jvm_path"))
      .select(col("repo"), col("filePath").as("r_file"), col("name").as("r_name"),
        col("callReceiver").as("r_recv"), col("startByte").as("r_sb"),
        col("endByte").as("r_eb"), col("startLine").as("r_line"),
        col("startCol").as("r_sc"), col("endCol").as("r_ec"))
    val defsForScope = definitions.select(col("id").as("caller_id"),
      col("fqn").as("caller_fqn"), col("primary_file_path").as("d_file"),
      col("start_line").as("d_sl"), col("end_line").as("d_el"),
      col("primary_start_byte").as("d_sb"))
    // key includes r_recv: the chain pre-pass can emit a second ref at the
    // same site with a receiver expression — both must survive
    val innermost = Window
      .partitionBy(col("r_file"), col("r_sb"), col("r_eb"), col("r_recv"))
      .orderBy(col("d_sb").desc)
    val withCaller = refs.join(defsForScope,
        col("r_file") === col("d_file") &&
          col("r_line") >= col("d_sl") && col("r_line") <= col("d_el"))
      .withColumn("rk", row_number().over(innermost))
      .where(col("rk") === 1)
    val refRows = withCaller.select(col("repo"), lit(TagRef).as("tag"),
      col("caller_id").as("id"), col("r_file").as("s1"),
      col("r_name").as("s2"), col("r_recv").as("s3"),
      col("caller_fqn").as("s4"), lit("").as("s5"), col("r_sb").as("sb"),
      col("r_eb").as("eb"), col("r_line").as("line"), col("r_sc").as("sc"),
      col("r_ec").as("ec"))

    // ---- per-repo grouped resolution: catalog rows sort ahead of refs,
    // one task builds its repo's catalog then streams the refs through ----
    val resolved = Seq(defRows, factRows, impRows, refRows)
      .reduce(_.unionByName(_)).as[CatRow]
      .groupByKey(_.repo)
      .flatMapSortedGroups(col("tag")) { (_: String, it: Iterator[CatRow]) =>
        val defs = scala.collection.mutable.ArrayBuffer[DefIn]()
        val facts = scala.collection.mutable.ArrayBuffer[FactIn]()
        val imps = scala.collection.mutable.ArrayBuffer[ImpIn]()
        var cat: Catalog = null
        it.flatMap { r =>
          r.tag match {
            case TagDef => defs += DefIn(r.id, r.s1, r.s2, r.s3, r.s4); Iterator.empty
            case TagFact => facts += FactIn(r.s1, r.s2, r.s3, r.s4, r.s5); Iterator.empty
            case TagImp => imps += ImpIn(r.id, r.s1, r.s2, r.s3, r.s4); Iterator.empty
            case _ =>
              if (cat == null)
                cat = buildCatalog(defs.toSeq, facts.toSeq, imps.toSeq)
              val targets = resolveOne(cat, r.s1, r.s4, r.s2, r.s3)
              val n = targets.size
              targets.iterator.map {
                case Left(defId) => Resolved(r.s1, r.sb, r.eb, r.line, r.sc,
                  r.ec, r.id, EdgeKind.DefToDef, defId, n)
                case Right(impId) => Resolved(r.s1, r.sb, r.eb, r.line, r.sc,
                  r.ec, r.id, EdgeKind.DefToImp, impId, n)
              }
          }
        }
      }.toDF()

    val edges = resolved
      .select(col("kind"),
        when(col("nCands") > 1, RelType.AmbiguouslyCalls)
          .otherwise(RelType.Calls).as("type"),
        col("callerId").as("source_id"), col("targetId").as("target_id"),
        col("sb").as("source_start_byte"), col("eb").as("source_end_byte"),
        col("line").as("source_start_line"), col("line").as("source_end_line"),
        col("sc").as("source_start_col"), col("ec").as("source_end_col"))
      .where(col("source_id") =!= col("target_id"))
      .distinct()
    val sites = resolved.select(col("file").as("filePath"),
      col("sb").as("startByte"), col("eb").as("endByte")).distinct()
    (edges, sites)
  }

  private final case class EdgeRow(kind: String, `type`: String,
      source_id: Long, target_id: Long, source_start_byte: java.lang.Long,
      source_end_byte: java.lang.Long, source_start_line: java.lang.Integer,
      source_end_line: java.lang.Integer, source_start_col: java.lang.Integer,
      source_end_col: java.lang.Integer)
  private final case class SiteRow(filePath: String, startByte: Long, endByte: Long)

  private[analyze] final case class DefIn(id: Long, fqn: String, name: String,
      defType: String, file: String)
  private[analyze] final case class FactIn(file: String, kind: String, scope: String,
      subject: String, detail: String)
  private[analyze] final case class ImpIn(id: Long, path: String, name: String,
      alias: String, file: String)

  /** One repo's catalog, built task-side from the group's sorted prefix. */
  private[analyze] def buildCatalog(defRows: Seq[DefIn], factRows: Seq[FactIn],
                           impRows: Seq[ImpIn]): Catalog = {
    val pkgByFile = factRows.filter(_.kind == "package")
      .map(f => f.file -> f.detail).toMap
    val fieldFacts = factRows.filter(_.kind == "var")
      .map(f => (f.file, f.scope, f.subject) -> f.detail).toMap
    val extendsFacts = factRows.filter(_.kind == "extends")
      .groupBy(_.subject).map { case (fqn, rows) =>
        fqn -> rows.map(_.detail).toSeq }
    val propFacts = factRows.filter(_.kind == "prop")
      .map(f => (f.scope, f.subject) -> f.detail).toMap
    val returnFacts = factRows.filter(_.kind == "returns")
      .map(f => (f.file, f.scope) -> f.detail).toMap

    val typeKinds = Set("Class", "Interface", "Module")
    val typeDefs = defRows.filter(d => typeKinds(d.defType))
    val methodsByParent = defRows.filterNot(d => typeKinds(d.defType))
      .groupBy(d => d.fqn.take(math.max(d.fqn.lastIndexOf('.'), 0)))
    val nestedByParent = typeDefs
      .groupBy(d => d.fqn.take(math.max(d.fqn.lastIndexOf('.'), 0)))

    val types = typeDefs.map { d =>
      val pkg = pkgByFile.getOrElse(d.file, "")
      val methods = methodsByParent.getOrElse(d.fqn, Nil)
        .map(m => m.name -> m.id).toMap
      val nested = nestedByParent.getOrElse(d.fqn, Nil)
        .map(n => n.name -> n.fqn).toMap
      val fields = fieldFacts.collect {
        case ((f, scope, n), t) if f == d.file && scope == d.fqn => n -> t
      }.toMap
      d.fqn -> TypeInfo(d.fqn, d.name, pkg, d.file, d.id,
        methods, nested, fields, extendsFacts.getOrElse(d.fqn, Nil))
    }.toMap

    val byPkgName = types.values
      .filter(ti => ti.fqn == (if (ti.pkg.isEmpty) ti.name else s"${ti.pkg}.${ti.name}"))
      .map(ti => (ti.pkg, ti.name) -> ti.fqn).toMap
    // top-level functions: fqn = pkg.name and not inside a type
    val funcDefs = defRows.filter { d =>
      !typeKinds(d.defType) && {
        val pkg = pkgByFile.getOrElse(d.file, "")
        d.fqn == (if (pkg.isEmpty) d.name else s"$pkg.${d.name}")
      }
    }
    val pkgFuncs = funcDefs.map { d =>
      (pkgByFile.getOrElse(d.file, ""), d.name) -> d.id
    }.toMap
    val funcFqn = funcDefs.map(d => d.id -> d.fqn).toMap

    val impFiles = impRows.map(_.file).toSet
    val scopes = impRows.groupBy(_.file).map { case (file, rows) =>
      val named = rows.filter(_.name != "*").map { r =>
        val key = Option(r.alias).getOrElse(r.name)
        key -> (r.path, r.id)
      }.toMap
      val wild = rows.filter(_.name == "*").map(_.path).toSeq
      file -> FileScope(pkgByFile.getOrElse(file, ""), named, wild,
        funcDefs.filter(_.file == file).map(d => d.name -> d.id).toMap)
    } ++ pkgByFile.keys.filterNot(impFiles).map { f =>
      f -> FileScope(pkgByFile.getOrElse(f, ""), Map.empty, Nil,
        funcDefs.filter(_.file == f).map(d => d.name -> d.id).toMap)
    }

    Catalog(types, byPkgName, pkgFuncs, funcFqn, scopes.toMap,
      fieldFacts, propFacts, returnFacts)
  }

  // ------------------------------------------------------------ resolution
  private def resolveOne(cat: Catalog, file: String, callerFqn: String,
                         name: String, recv: String): Seq[Either[Long, Long]] = {
    val scope = cat.scopes.getOrElse(file,
      FileScope(cat.types.values.find(_.file == file).map(_.pkg).getOrElse(""),
        Map.empty, Nil, Map.empty))

    def varType(v: String): Option[String] = {
      var s = callerFqn
      var found: Option[String] = None
      while (found.isEmpty) {
        found = cat.vars.get((file, s, v))
        if (s.isEmpty) return found
        s = cat.parentOf(s)
        if (s.isEmpty && found.isEmpty) found = cat.vars.get((file, "", v))
          .orElse(cat.vars.get((file, scope.pkg, v)))
      }
      found
    }

    def typeExprToTypes(expr: String, inFile: String, inScope: String): Seq[String] = {
      val cands = expr.split("\\|").toSeq.filter(_.nonEmpty)
      val resolvedAll = cands.flatMap(c =>
        resolveMemberishPath(inFile, inScope, c)).distinct
      if (resolvedAll.size <= 1) resolvedAll
      else {
        val closures = resolvedAll.map(cat.superClosure)
        val common = closures.reduce(_ intersect _)
        if (common.nonEmpty)
          common.filter(c => !common.exists(d =>
            d != c && cat.superClosure(d).contains(c) &&
              !cat.superClosure(c).contains(d))).toSeq.sorted
        else resolvedAll
      }
    }

    /** A dotted path that may traverse nested types and then non-type
      * members (enum constants): resolve the longest type prefix; unknown
      * trailing members keep the last resolved type
      * (`EnumClass.ENUM_VALUE_2` → EnumClass).
      */
    def resolveMemberishPath(inFile: String, inScope: String, path: String): Seq[String] = {
      val parts = path.split("\\.").toSeq.filter(_.nonEmpty)
      if (parts.isEmpty) return Nil
      var cur = cat.resolveHeadType(inFile, inScope, parts.head)
      if (cur.isEmpty) return Nil
      parts.tail.foreach { p =>
        val next = cur.flatMap(t => cat.types.get(t).flatMap(_.nested.get(p)))
        if (next.nonEmpty) cur = next
        // unknown member (enum constant / static field): type unchanged
      }
      cur
    }

    def memberOnTypes(ts: Seq[String], n: String): Seq[Either[Long, Long]] = {
      val hits = ts.flatMap(t => cat.memberMethod(t, n)).distinct
      if (hits.nonEmpty) hits.map(Left(_))
      else extensionFallback(n)
    }

    def extensionFallback(n: String): Seq[Either[Long, Long]] = {
      scope.funcs.get(n).map(id => Seq(Left(id): Either[Long, Long]))
        .orElse(scope.imports.get(n).collect {
          case (p, _) if cat.funcFqn.exists(_._2 == p) =>
            Seq(Left(cat.funcFqn.find(_._2 == p).get._1): Either[Long, Long])
        })
        .orElse(cat.pkgFuncs.get((scope.pkg, n))
          .map(id => Seq(Left(id): Either[Long, Long])))
        .orElse {
          val viaWild = scope.wildcardPkgs.flatMap(wp => cat.pkgFuncs.get((wp, n)))
          if (viaWild.nonEmpty) Some(viaWild.map(Left(_): Either[Long, Long]))
          else None
        }
        .getOrElse(Nil)
    }

    def bareCall(n: String): Seq[Either[Long, Long]] = {
      // enclosing type chain (methods, inherited, companions, nested ctors)
      var enc = cat.enclosingType(callerFqn)
      while (enc.isDefined) {
        val hit = cat.memberMethod(enc.get, n)
        if (hit.isDefined) return Seq(Left(hit.get))
        enc = Some(cat.parentOf(enc.get)).filter(_.nonEmpty)
          .flatMap(cat.enclosingType)
      }
      // same-file / same-package top-level functions
      scope.funcs.get(n).foreach(id => return Seq(Left(id)))
      cat.pkgFuncs.get((scope.pkg, n)).foreach(id => return Seq(Left(id)))
      // type by name (constructor call), imports, wildcard
      val t = cat.resolveHeadType(file, callerFqn, n)
      t.headOption.foreach(fqn => return Seq(Left(cat.types(fqn).defId)))
      scope.imports.get(n).foreach { case (_, impId) => return Seq(Right(impId)) }
      val wildFuncs = scope.wildcardPkgs.flatMap(wp => cat.pkgFuncs.get((wp, n)))
      if (wildFuncs.nonEmpty) return wildFuncs.map(Left(_))
      Nil
    }

    recv match {
      case "" => bareCall(name)
      case "super" =>
        cat.enclosingType(callerFqn).toSeq.flatMap { encT =>
          val ti = cat.types(encT)
          val supers = ti.supers.flatMap(cat.resolveSuper(ti, _))
          val hits = supers.flatMap(s => cat.memberMethod(s, name)).distinct
          hits.map(Left(_))
        }
      case "this" => cat.enclosingType(callerFqn).toSeq
        .flatMap(t => memberOnTypes(Seq(t), name))
      case r if r.startsWith("CALL:") =>
        val f = r.stripPrefix("CALL:")
        val fTargets = bareCall(f).collect { case Left(id) => id }
        val retTypes = fTargets.flatMap { id =>
          // the called function's declaring file scopes its return type
          val fqn = cat.funcFqn.get(id)
            .orElse(cat.types.values.flatMap(_.methods.find(_._2 == id))
              .map { case (n2, _) =>
                cat.types.values.find(_.methods.get(n2).contains(id)).map(t2 => s"${t2.fqn}.$n2")
              }.flatten.headOption)
          fqn.toSeq.flatMap { fq =>
            cat.returns.collect { case ((rf, rm), t) if rm == fq => (rf, t) }
              .flatMap { case (rf, t) => typeExprToTypes(t, rf, fq) }
          }
        }.distinct
        if (retTypes.isEmpty) Nil else memberOnTypes(retTypes, name)
      case r if r.startsWith("BINOP:") =>
        val v = r.stripPrefix("BINOP:")
        val recvTypes = varType(v).toSeq.flatMap(typeExprToTypes(_, file, callerFqn))
        val plusIds = recvTypes.flatMap(t => cat.memberMethod(t, "plus"))
        val retTypes = plusIds.flatMap { id =>
          cat.types.values.find(_.methods.get("plus").contains(id)).toSeq
            .flatMap { owner =>
              cat.returns.get((owner.file, s"${owner.fqn}.plus")).toSeq
                .flatMap(typeExprToTypes(_, owner.file, owner.fqn))
            }
        }.distinct
        if (retTypes.isEmpty) Nil else memberOnTypes(retTypes, name)
      case chain =>
        val parts = chain.split("\\.").toSeq.filter(_.nonEmpty)
        if (parts.isEmpty) return bareCall(name)
        // when a var/field's declared type only matches an IMPORT (external
        // type: `val logger: Logger` with `import org.slf4j.Logger`), the
        // call resolves to the imported symbol — the reference's
        // find_calls_to_imported_symbol face
        var impFallback: Option[Long] = None
        def typesOfExpr(te: String, f2: String, s2: String): Seq[String] = {
          val ts = typeExprToTypes(te, f2, s2)
          if (ts.isEmpty && impFallback.isEmpty)
            impFallback = te.split("[.|]").headOption
              .flatMap(n => scope.imports.get(n).map(_._2))
          ts
        }
        // head: this / local var / enclosing field / type path / import
        var cur: Seq[String] = parts.head match {
          case "this" => cat.enclosingType(callerFqn).toSeq
          case h =>
            varType(h) match {
              case Some(te) => typesOfExpr(te, file, callerFqn)
              case None =>
                val viaField = cat.enclosingType(callerFqn).flatMap(t =>
                  cat.memberFieldType(t, h))
                viaField match {
                  case Some((te, declFile)) => typesOfExpr(te, declFile, "")
                  case None => cat.resolveHeadType(file, callerFqn, h).take(1)
                }
            }
        }
        if (cur.isEmpty) {
          // head unresolvable as a local type: a visible extension function
          // wins (externalType.print() → the same-file `fun ExternalType.
          // print()`), else an imported symbol receiver (or import-typed
          // var) resolves the call to the import
          val ext = extensionFallback(name)
          if (ext.nonEmpty) return ext
          return impFallback.orElse(scope.imports.get(parts.head).map(_._2))
            .map(impId => Seq(Right(impId): Either[Long, Long]))
            .getOrElse(Nil)
        }
        parts.tail.foreach { p =>
          val nested = cur.flatMap(t => cat.types.get(t).flatMap(_.nested.get(p)))
          if (nested.nonEmpty) cur = nested
          else {
            val viaField = cur.flatMap(t => cat.memberFieldType(t, p).toSeq
              .flatMap { case (te, declFile) => typeExprToTypes(te, declFile, "") })
            if (viaField.nonEmpty) cur = viaField
            else {
              val viaProp = cur.flatMap { t =>
                cat.types.get(t).toSeq.flatMap(ti =>
                  cat.props.get((ti.name, p)).toSeq
                    .flatMap(typeExprToTypes(_, file, callerFqn)))
              }
              if (viaProp.nonEmpty) cur = viaProp
              // else: unknown member (enum constant) — type unchanged
            }
          }
        }
        memberOnTypes(cur, name)
    }
  }
}

/** Resolution output row (top-level: Dataset encoders codegen cleanly for
  * top-level case classes; a nested private class falls back to interpreted
  * serialization with noisy janino errors).
  */
final case class Resolved(
    file: String, sb: Long, eb: Long, line: Int, sc: Int, ec: Int,
    callerId: Long, kind: String, targetId: Long, nCands: Int)

/** Tagged union row for the per-repo grouped catalog+ref stream shared by
  * [[TypedResolver]] and [[RubyTypedResolver]]: `tag` sorts catalog rows
  * (defs, facts, imports) ahead of refs within each repo group so the
  * catalog is complete before the first ref streams through. Top-level for
  * the same encoder-codegen reason as [[Resolved]].
  */
private[analyze] final case class CatRow(repo: String, tag: String, id: Long,
    s1: String, s2: String, s3: String, s4: String, s5: String,
    sb: Long, eb: Long, line: Int, sc: Int, ec: Int)

private[analyze] object CatRow {
  final val TagDef = "0d"
  final val TagFact = "1f"
  final val TagImp = "2i"
  final val TagRef = "3r"
}
