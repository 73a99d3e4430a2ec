package graft.extract

import org.scalatest.funsuite.AnyFunSuite

/** Kotlin extractor fidelity: EXACT hand-annotated definition census over
  * the Kotlin fixture tree kept in this repo
  * (src/test/resources/fixtures/kotlin — 17 .kt files, 227 lines).
  *
  * The tree is original, not the reference's fixture bytes: each file was
  * written from its (file, kind, fqn) rows below and the constructs these
  * notes name, before the extractor was run on it. It holds an enum class
  * with entries, companion objects, an inner class, three-deep nested
  * classes, `operator fun`, extension functions, the extension properties
  * `val ExtendMe.extend` and `val ExtendMe.reversed`, interface methods
  * (abstract and default), a top-level property, and packages whose last
  * segment is the soft keyword `if`, `try` or `when`. Those segments are
  * written bare, the form the extractor's package rule reads; kotlinc
  * would reject them and needs backticks (`` package com.example.`if` ``).
  *
  * No Kotlin parser exists on this box (no kotlinc, no embeddable K2, no
  * tree-sitter CLI, empty cargo registry, zero egress — probes recorded in
  * COVERAGE.md), so the ground truth here is MANUAL, following the
  * reference's kotlin analyzer taxonomy (analysis/languages/kotlin/types.rs)
  * restricted to the kinds our definition model carries (Class / Interface
  * / Method / Function). Asserted EXACTLY in both directions — any missed
  * definition (recall) or fabricated one (precision) fails.
  *
  * Taxonomy notes, deliberate and documented:
  *  - Kotlin properties (`val logger`, extension properties
  *    `val ExtendMe.extend`) and enum entries (ENUM_VALUE_*) are carried
  *    as RawTypeFacts feeding the typed resolver, not as definition rows;
  *    the reference's own call fixtures that flow through them (enum-entry
  *    method calls, extension-property chains) are asserted in
  *    ReferenceFixturesSpec's 24-edge Kotlin call parity, which needs the
  *    reference checkout.
  *  - `enum class` lowers to Class, `companion object` to a nested Class
  *    named Companion (matching Kotlin's real JVM lowering).
  */
class KotlinFixtureCensusSpec extends AnyFunSuite {

  private lazy val root = graft.TestFixtures.root("kotlin")

  // (file, kind, fqn) — hand-derived from the fixture sources
  private val truth: Seq[(String, String, String)] = {
    val base = "main/kotlin/com/example"
    Seq(
      // Main.kt: one top-level function (val logger is a property fact)
      (s"$base/Main.kt", "Function", "com.example.main"),
      // edgecases/filter/Filter.kt
      (s"$base/edgecases/filter/Filter.kt", "Interface",
        "com.example.edgecases.filter.Filter"),
      (s"$base/edgecases/filter/Filter.kt", "Method",
        "com.example.edgecases.filter.Filter.filter"),
      // edgecases/filter/ServerFilter.kt: nested class shadows the
      // interface's simple name; both overrides are methods
      (s"$base/edgecases/filter/ServerFilter.kt", "Class",
        "com.example.edgecases.filter.ServerFilter"),
      (s"$base/edgecases/filter/ServerFilter.kt", "Class",
        "com.example.edgecases.filter.ServerFilter.Filter"),
      (s"$base/edgecases/filter/ServerFilter.kt", "Method",
        "com.example.edgecases.filter.ServerFilter.Filter.filter"),
      (s"$base/edgecases/filter/ServerFilter.kt", "Method",
        "com.example.edgecases.filter.ServerFilter.filter"),
      // entites/Person.kt
      (s"$base/entites/Person.kt", "Interface", "com.example.entites.Person"),
      (s"$base/entites/Person.kt", "Method",
        "com.example.entites.Person.getName"),
      (s"$base/entites/Person.kt", "Class", "com.example.entites.User"),
      (s"$base/entites/Person.kt", "Method",
        "com.example.entites.User.getName"),
      (s"$base/entites/Person.kt", "Class", "com.example.entites.Admin"),
      (s"$base/entites/Person.kt", "Method",
        "com.example.entites.Admin.getName"),
      // enums/Enum.kt: enum class -> Class; entries are type facts
      (s"$base/enums/Enum.kt", "Class", "com.example.enums.Enum"),
      (s"$base/enums/Enum.kt", "Method", "com.example.enums.Enum.enumMethod"),
      (s"$base/enums/Enum.kt", "Method", "com.example.enums.Enum.enumMethod2"),
      // extensions/Extensions.kt: extension fun printValue is top-level
      // Function (receiver rides as a type fact); extension PROPERTY
      // `extend` is a prop fact, not a def
      (s"$base/extensions/Extensions.kt", "Function",
        "com.example.extensions.printValue"),
      (s"$base/extensions/Extensions.kt", "Function",
        "com.example.extensions.callToExtensions"),
      (s"$base/extensions/Extensions.kt", "Function",
        "com.example.extensions.callToImportedExtensions"),
      // extensions/entities/Entities.kt: data classes -> Class
      (s"$base/extensions/entities/Entities.kt", "Class",
        "com.example.extensions.entities.ExtendMe"),
      (s"$base/extensions/entities/Entities.kt", "Class",
        "com.example.extensions.entities.ExtendMeFromProperty"),
      (s"$base/extensions/entities/Entities.kt", "Method",
        "com.example.extensions.entities.ExtendMeFromProperty.printValue"),
      // extensions/imported/Imported.kt
      (s"$base/extensions/imported/Imported.kt", "Function",
        "com.example.extensions.imported.print"),
      (s"$base/extensions/imported/Imported.kt", "Function",
        "com.example.extensions.imported.callToImported"),
      // extensions/utils/Utils.kt: single-expression extension fun;
      // `val ExtendMe.reversed` is a prop fact
      (s"$base/extensions/utils/Utils.kt", "Function",
        "com.example.extensions.utils.reverse"),
      // foo/Bar.kt, foo/Baz.kt
      (s"$base/foo/Bar.kt", "Class", "com.example.foo.Bar"),
      (s"$base/foo/Bar.kt", "Method", "com.example.foo.Bar.bar"),
      (s"$base/foo/Baz.kt", "Interface", "com.example.foo.Baz"),
      (s"$base/foo/Baz.kt", "Method", "com.example.foo.Baz.baz"),
      // foo/Foo.kt: companion object -> Class Companion; inner class
      (s"$base/foo/Foo.kt", "Class", "com.example.foo.Foo"),
      (s"$base/foo/Foo.kt", "Class", "com.example.foo.Foo.Companion"),
      (s"$base/foo/Foo.kt", "Method",
        "com.example.foo.Foo.Companion.companionFoo"),
      (s"$base/foo/Foo.kt", "Method", "com.example.foo.Foo.fooInFooBody"),
      (s"$base/foo/Foo.kt", "Method", "com.example.foo.Foo.foo"),
      (s"$base/foo/Foo.kt", "Class", "com.example.foo.Foo.InnerFoo"),
      (s"$base/foo/Foo.kt", "Method", "com.example.foo.Foo.InnerFoo.innerFoo"),
      // if/If.kt: `if` is a soft-keyword package segment
      (s"$base/if/If.kt", "Class", "com.example.if.IfConfig"),
      (s"$base/if/If.kt", "Function", "com.example.if.ifTypeInference"),
      (s"$base/if/If.kt", "Function", "com.example.if.usageOfIfTypeInference"),
      // nestedclasses/Nested.kt: three-deep nesting plus a sibling
      // GrandChild extending the nested one
      (s"$base/nestedclasses/Nested.kt", "Class",
        "com.example.nestedclasses.Parent"),
      (s"$base/nestedclasses/Nested.kt", "Class",
        "com.example.nestedclasses.Parent.Child"),
      (s"$base/nestedclasses/Nested.kt", "Class",
        "com.example.nestedclasses.Parent.Child.GrandChild"),
      (s"$base/nestedclasses/Nested.kt", "Method",
        "com.example.nestedclasses.Parent.Child.GrandChild.greet"),
      (s"$base/nestedclasses/Nested.kt", "Class",
        "com.example.nestedclasses.Parent.GrandChild"),
      (s"$base/nestedclasses/Nested.kt", "Method",
        "com.example.nestedclasses.Parent.GrandChild.greet"),
      // operator/AnimalList.kt: `operator fun plus` is a Method
      (s"$base/operator/AnimalList.kt", "Class",
        "com.example.operator.AnimalList"),
      (s"$base/operator/AnimalList.kt", "Class",
        "com.example.operator.AnimalList.Companion"),
      (s"$base/operator/AnimalList.kt", "Method",
        "com.example.operator.AnimalList.Companion.of"),
      (s"$base/operator/AnimalList.kt", "Method",
        "com.example.operator.AnimalList.plus"),
      (s"$base/operator/AnimalList.kt", "Method",
        "com.example.operator.AnimalList.display"),
      // try/Try.kt
      (s"$base/try/Try.kt", "Class", "com.example.try.TryConfig"),
      (s"$base/try/Try.kt", "Function", "com.example.try.tryTypeInference"),
      // when/When.kt
      (s"$base/when/When.kt", "Class", "com.example.when.Config"),
      (s"$base/when/When.kt", "Function", "com.example.when.whenTypeInference"))
  }

  test("Kotlin fixtures: exact hand-annotated definition census (both directions)") {
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.walk(root)
    val got = try {
      s.iterator().asScala.toSeq.filter(_.toString.endsWith(".kt"))
        .flatMap { p =>
          val rel = root.relativize(p).toString
          val content =
            new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          val f = SourceFile(rel, p.toString, "kfix",
            p.getFileName.toString, "kt", "kotlin", content)
          Extractors.extract(f).definitions
            .map(d => (rel, d.definitionType, d.fqn))
        }
    } finally s.close()
    assert(got.length == truth.length,
      s"extractor emitted ${got.length} defs, census expects ${truth.length}")
    val missed = truth.toSet -- got.toSet
    val extra = got.toSet -- truth.toSet
    assert(missed.isEmpty, s"missed definitions: ${missed.toSeq.sorted}")
    assert(extra.isEmpty, s"fabricated definitions: ${extra.toSeq.sorted}")
  }

  test("Kotlin fixtures: properties and enum entries surface as type facts") {
    def factsOf(rel: String): Seq[RawTypeFact] = {
      val p = root.resolve(rel)
      val content = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      Extractors.extract(SourceFile(rel, p.toString, "kfix",
        p.getFileName.toString, "kt", "kotlin", content)).typeFacts
    }
    // extension property `val ExtendMe.extend` (Extensions.kt) must reach
    // the resolver as a prop fact — it is how
    // `extendMe.extend.printValue()` resolves in the 24-edge parity suite
    val extFacts = factsOf("main/kotlin/com/example/extensions/Extensions.kt")
    assert(extFacts.exists(f => f.factKind == "prop" && f.subject == "extend"),
      s"missing prop fact for extension property: $extFacts")
    val utilFacts = factsOf("main/kotlin/com/example/extensions/utils/Utils.kt")
    assert(utilFacts.exists(f =>
      f.factKind == "prop" && f.subject == "reversed"), s"$utilFacts")
  }
}
