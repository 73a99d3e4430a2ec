package graft.extract

import org.scalatest.funsuite.AnyFunSuite

class PythonExtractorSpec extends AnyFunSuite {

  private def file(content: String, path: String = "m.py") =
    SourceFile(path, "/" + path, "r", path.split("/").last, "py", "python", content)

  test("classes, methods, functions, nesting fqns") {
    val e = PythonExtractor.extract(file(
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
        |""".stripMargin))
    val byFqn = e.definitions.map(d => d.fqn -> d).toMap
    assert(byFqn.keySet == Set("Base", "Base.save", "User", "User.__init__",
      "User.greet", "helper"))
    assert(byFqn("Base").definitionType == "Class")
    assert(byFqn("Base.save").definitionType == "Method")
    assert(byFqn("helper").definitionType == "Function")
    assert(byFqn("Base").startLine == 0)
    assert(byFqn("Base").endLine >= 2)
    // references: build_name and helper calls
    assert(e.references.map(_.name).toSet == Set("build_name", "helper"))
  }

  test("imports: plain, aliased, from, relative, wildcard") {
    val e = PythonExtractor.extract(file(
      """import os
        |import a.b as ab, c
        |from x.y import f as g, h
        |from . import sibling
        |from ..pkg import thing
        |from z import *
        |""".stripMargin))
    val imps = e.imports.map(i => (i.importType, i.importPath, i.name, Option(i.alias)))
    assert(imps.contains(("import", "os", "os", None)))
    assert(imps.contains(("import", "a.b", "b", Some("ab"))))
    assert(imps.contains(("import", "c", "c", None)))
    assert(imps.contains(("from_import", "x.y", "f", Some("g"))))
    assert(imps.contains(("from_import", "x.y", "h", None)))
    assert(imps.contains(("from_import", ".", "sibling", None)))
    assert(imps.contains(("from_import", "..pkg", "thing", None)))
    assert(imps.contains(("wildcard_import", "z", "*", None)))
    assert(e.imports.size == 8)
  }

  test("docstrings do not produce phantom defs/refs or close scopes") {
    val e = PythonExtractor.extract(file(
      """class A:
        |    def f(self):
        |        '''Example:
        |            def fake(): pass
        |            call_me(now)
        |        '''
        |        return real_call(1)
        |    def g(self):
        |        pass
        |""".stripMargin))
    assert(e.definitions.map(_.fqn).toSet == Set("A", "A.f", "A.g"))
    assert(e.references.map(_.name).toSet == Set("real_call"))
  }

  test("lambda definitions and dedent scoping") {
    val e = PythonExtractor.extract(file(
      """square = lambda x: x * x
        |class A:
        |    def f(self):
        |        pass
        |def top():
        |    pass
        |""".stripMargin))
    val fqns = e.definitions.map(_.fqn).toSet
    assert(fqns == Set("square", "A", "A.f", "top"))
    assert(e.definitions.find(_.fqn == "square").get.definitionType == "Lambda")
    assert(e.definitions.find(_.fqn == "top").get.definitionType == "Function")
  }
}

class OtherExtractorsSpec extends AnyFunSuite {
  test("typescript: classes, functions, imports") {
    val f = SourceFile("a.ts", "/a.ts", "r", "a.ts", "ts", "typescript",
      """import { readFile as rf, join } from 'fs';
        |import * as path from 'path';
        |import './side';
        |export class Svc {
        |  run(x: number): number {
        |    return helper(x);
        |  }
        |}
        |export function helper(x: number) { return x + 1; }
        |const fmt = (s: string) => s.trim();
        |const valid = (s: string): boolean => s.length > 0;
        |const load = async (
        |  id: string,
        |): Promise<string> => readIt(id)
        |""".stripMargin)
    val e = TypeScriptExtractor.extract(f)
    val fqns = e.definitions.map(d => d.fqn -> d.definitionType).toMap
    assert(fqns.contains("Svc"))
    assert(fqns("Svc") == "Class")
    assert(fqns.contains("Svc.run"))
    assert(fqns.contains("helper"))
    assert(fqns.contains("fmt"))
    // arrow consts with a return-type annotation, one- and multi-line
    assert(fqns("valid") == "Function")
    assert(fqns("load") == "Function")
    assert(e.imports.map(_.importType).toSet ==
      Set("named_import", "namespace_import", "side_effect_import"))
    assert(e.references.exists(_.name == "helper"))
  }

  test("typescript/js: accessors, generators, multi-line heads, object methods") {
    val f = SourceFile("b.js", "/b.js", "r", "b.js", "js", "javascript",
      """class Npm {
        |  static get version () {
        |    return pkg.version
        |  }
        |  set title (t) { this.#t = t }
        |  * entries () { yield 1 }
        |  delete (key) { return this.map.delete(key) }
        |  async load ({
        |    cmd,
        |    args = defaults(),
        |  }) {
        |    inner(cmd)
        |  }
        |}
        |const getOptions = ({
        |  family,
        |  hints,
        |}) => build(family, hints)
        |const handlers = {
        |  grant (spec) { apply(spec) },
        |}
        |const SUBKEY = /^ {2}[^\s]+:$/
        |if (/^".*"$/.test(chunk)) { real(code) }
        |this.#privateCall(x)
        |""".stripMargin)
    val e = TypeScriptExtractor.extract(f)
    val fqns = e.definitions.map(d => d.fqn -> d.definitionType).toMap
    // accessors / generators / reserved-word members / multi-line heads
    assert(fqns("Npm.version") == "Method")
    assert(fqns("Npm.title") == "Method")
    assert(fqns("Npm.entries") == "Method")
    assert(fqns("Npm.delete") == "Method")
    assert(fqns("Npm.load") == "Method")
    // multi-line destructured arrow const, anchored at its header line
    assert(fqns("getOptions") == "Function")
    // object-literal methods are NOT class members and NOT defs...
    assert(!fqns.contains("grant") && !fqns.contains("handlers.grant"))
    val callNames = e.references.map(_.name).toSet
    // ...and their header name is not a call either; their bodies are
    assert(!callNames.contains("grant"))
    assert(callNames.contains("apply"))
    // calls survive inside member bodies, param defaults, regex-bearing
    // lines; accessor headers and #-private calls do not leak
    assert(callNames.contains("inner"))
    assert(callNames.contains("defaults"))
    assert(callNames.contains("build"))
    assert(callNames.contains("test") && callNames.contains("real"))
    assert(!callNames.contains("version") && !callNames.contains("title"))
    assert(!callNames.contains("privateCall"))
    // regex braces did not desync the class: Npm closed before getOptions,
    // so getOptions is NOT scoped under it
    assert(!fqns.contains("Npm.getOptions"))
  }

  test("java: classes, interfaces, methods, imports") {
    val f = SourceFile("A.java", "/A.java", "r", "A.java", "java", "java",
      """import java.util.List;
        |import static java.lang.Math.max;
        |import com.example.util.*;
        |public class UserService implements Service {
        |    private final List<String> names;
        |    public String greet(String name) {
        |        return format(name);
        |    }
        |    public static UserService create() { return new UserService(); }
        |}
        |interface Service {
        |    String greet(String name);
        |}
        |""".stripMargin)
    val e = JavaExtractor.extract(f)
    val fqns = e.definitions.map(d => d.fqn -> d.definitionType).toMap
    assert(fqns("UserService") == "Class")
    assert(fqns("UserService.greet") == "Method")
    assert(fqns("UserService.create") == "Method")
    assert(fqns("Service") == "Interface")
    assert(e.imports.map(_.importType).toSet ==
      Set("import", "static_import", "wildcard_import"))
    assert(e.references.exists(_.name == "format"))
  }

  test("kotlin: classes, objects, functions, aliased imports") {
    val f = SourceFile("K.kt", "/K.kt", "r", "K.kt", "kt", "kotlin",
      """import com.example.Foo as F
        |import com.example.bar.*
        |data class Point(val x: Int, val y: Int) {
        |    fun dist(): Int { return abs(x) }
        |}
        |object Registry {
        |    fun lookup(k: String) = items.get(k)
        |}
        |fun topLevel() { }
        |val Point.mirrored
        |    get() = Point(y, x)
        |val Point.origin: Point
        |    get() = zero()
        |""".stripMargin)
    val e = KotlinExtractor.extract(f)
    val fqns = e.definitions.map(d => d.fqn -> d.definitionType).toMap
    assert(fqns("Point") == "Class")
    assert(fqns("Point.dist") == "Method")
    assert(fqns("Registry") == "Class")
    assert(fqns("Registry.lookup") == "Method")
    assert(fqns.contains("topLevel"))
    // extension properties are typed by their getter's constructor call or,
    // when declared, by their declared type
    val props = e.typeFacts.filter(_.factKind == "prop")
      .map(t => (t.scope, t.subject, t.detail)).toSet
    assert(props == Set(("Point", "mirrored", "Point"),
      ("Point", "origin", "Point")), props.toString)
    assert(e.imports.exists(i => i.alias == "F"))
    assert(e.imports.exists(_.importType == "wildcard_import"))
  }

  test("kotlin: a backquoted package segment is read without its quotes") {
    val f = SourceFile("If.kt", "/If.kt", "r", "If.kt", "kt", "kotlin",
      """package com.example.`if`
        |
        |data class IfConfig(val verbose: Boolean)
        |fun ifTypeInference() { }
        |""".stripMargin)
    val e = KotlinExtractor.extract(f)
    assert(e.definitions.map(_.fqn).toSet ==
      Set("com.example.if.IfConfig", "com.example.if.ifTypeInference"))
    assert(e.typeFacts.filter(_.factKind == "package").map(_.detail) ==
      Seq("com.example.if"))
  }

  test("kotlin: a backquoted import segment is read without its quotes") {
    val f = SourceFile("K.kt", "/K.kt", "r", "K.kt", "kt", "kotlin",
      """import com.example.`when`.Config
        |import com.example.`try`.TryConfig as `Tc`
        |import com.example.`if`.*
        |""".stripMargin)
    val e = KotlinExtractor.extract(f)
    assert(e.imports.map(i => (i.importType, i.importPath, i.alias)) == Seq(
      ("import", "com.example.when.Config", null),
      ("import", "com.example.try.TryConfig", "Tc"),
      ("wildcard_import", "com.example.if", null)))
  }

  test("csharp and rust basics") {
    val cs = CSharpExtractor.extract(SourceFile("P.cs", "/P.cs", "r", "P.cs",
      "cs", "csharp",
      """using System.Collections.Generic;
        |namespace App.Core {
        |    public class Processor {
        |        public int Run(int x) { return Helper(x); }
        |    }
        |}
        |""".stripMargin))
    assert(cs.definitions.map(_.fqn).toSet ==
      Set("App.Core", "App.Core.Processor", "App.Core.Processor.Run"))
    assert(cs.imports.head.importPath == "System.Collections.Generic")

    val rs = RustExtractor.extract(SourceFile("l.rs", "/l.rs", "r", "l.rs",
      "rs", "rust",
      """use std::collections::HashMap;
        |pub mod engine {
        |    pub struct Plan { }
        |    impl Plan {
        |        pub fn optimize(&self) -> Plan { rewrite(self) }
        |    }
        |}
        |""".stripMargin))
    val rfqns = rs.definitions.map(d => d.fqn -> d.definitionType).toMap
    assert(rfqns("engine") == "Module")
    assert(rfqns("engine.Plan") == "Class")
    assert(rfqns.contains("engine.Plan.optimize"))
    assert(rs.imports.head.importPath == "std.collections.HashMap")
    assert(rs.references.exists(_.name == "rewrite"))
  }

  test("ruby: modules, classes, methods, requires") {
    val f = SourceFile("b.rb", "/b.rb", "r", "b.rb", "rb", "ruby",
      """require 'json'
        |require_relative 'util/helper'
        |module App
        |  class User
        |    def greet(name)
        |      format_name(name)
        |    end
        |  end
        |end
        |""".stripMargin)
    val e = RubyExtractor.extract(f)
    val fqns = e.definitions.map(_.fqn).toSet
    assert(fqns == Set("App", "App.User", "App.User.greet"))
    assert(e.imports.size == 2)
    assert(e.references.exists(_.name == "format_name"))
  }

  test("ruby: an assignment-form case/if/begin opens a scope its end closes") {
    val e = RubyExtractor.extract(SourceFile("r.rb", "/r.rb", "r", "r.rb",
      "rb", "ruby",
      """class Router
        |  def pick
        |    target = case kind
        |      when :a then 1
        |      else 2
        |    end
        |    @cached ||= begin
        |      target
        |    end
        |    target
        |  end
        |  def after
        |  end
        |end
        |""".stripMargin))
    val defs = e.definitions.map(d => d.fqn -> d).toMap
    assert(defs.keySet == Set("Router", "Router.pick", "Router.after"))
    assert(defs("Router.pick").endLine == 10) // its own `end`, not the case's
    assert(defs("Router").endLine == 13)
  }

  test("typescript: a generic member's type parameters precede its params") {
    val e = TypeScriptExtractor.extract(SourceFile("r.ts", "/r.ts", "r",
      "r.ts", "ts", "typescript",
      """export class Repo {
        |  save(item: Item): void {
        |    this.items.push(item);
        |  }
        |  static find<T>(id: string): T | undefined {
        |    return lookup<T>(id);
        |  }
        |  merge<K, V extends Map<K, V>>(a: V, b: V): V {
        |    return a;
        |  }
        |}
        |""".stripMargin))
    val fqns = e.definitions.map(d => d.fqn -> d.definitionType).toMap
    assert(fqns == Map("Repo" -> "Class", "Repo.save" -> "Method",
      "Repo.find" -> "Method", "Repo.merge" -> "Method"))
  }

  test("scala: body-less case classes stay siblings; strings/comments are inert") {
    val q3 = "\"\"\"" // a literal triple quote, embedded via interpolation
    val e = ScalaExtractor.extract(SourceFile("M.scala", "/M.scala", "r",
      "M.scala", "scala", "scala",
      s"""object Model {
        |  case class RawDef(path: String, fqn: String)
        |  case class RawImport(path: String)
        |  /* block comment: class Phantom { def ghost() = 1 } */
        |  val re = ${q3}class InString(x: Int)$q3.r
        |  val s = "def alsoNot(y: Int)" // trailing: def norThis()
        |  def build(): RawDef = make(parse())
        |}
        |""".stripMargin))
    val fqns = e.definitions.map(_.fqn).toSet
    // RawImport must NOT nest under RawDef (body-less header opens no scope)
    assert(fqns == Set("Model", "Model.RawDef", "Model.RawImport", "Model.build"),
      s"got $fqns")
    assert(e.references.exists(_.name == "make"))
    assert(!e.references.exists(_.name == "ghost"))
  }

  test("scala: multiline headers, expression-body extents, block-arg calls") {
    val e = ScalaExtractor.extract(SourceFile("W.scala", "/W.scala", "r",
      "W.scala", "scala", "scala",
      """class Wide(
        |    val a: Int,
        |    val b: String)
        |  extends Base
        |  with Marker {
        |  def inner(): Int = compute(a)
        |}
        |
        |object Ops {
        |  def exprBody(x: Int): Int =
        |    helper(x) +
        |      more(x)
        |  def sibling(): Unit = {
        |    items.foreach { it => use(it) }
        |  }
        |}
        |""".stripMargin))
    val byFqn = e.definitions.map(d => d.fqn -> d).toMap
    // multiline header still opens the scope at its `{`
    assert(byFqn.contains("Wide.inner"), s"got ${byFqn.keySet}")
    // expression-body extent spans the indented continuation lines, so the
    // refs in `more(x)` attribute to exprBody, not to Ops
    val eb = byFqn("Ops.exprBody")
    assert(eb.endLine >= eb.startLine + 2, s"extent $eb")
    val moreRef = e.references.find(_.name == "more").get
    assert(moreRef.startLine <= eb.endLine && moreRef.startLine >= eb.startLine)
    // block application is a call ref
    assert(e.references.exists(_.name == "foreach"))
    assert(e.references.exists(_.name == "use"))
  }

  test("csharp allman braces and kotlin multiline headers open their scopes") {
    val cs = CSharpExtractor.extract(SourceFile("A.cs", "/A.cs", "r", "A.cs",
      "cs", "csharp",
      """namespace App
        |{
        |    public class Widget
        |    {
        |        public int Size { get; set; }
        |        public void Render() { Draw(); }
        |    }
        |}
        |""".stripMargin))
    val cfqns = cs.definitions.map(_.fqn).toSet
    assert(cfqns == Set("App", "App.Widget", "App.Widget.Size",
      "App.Widget.Render"), s"got $cfqns")

    val kt = KotlinExtractor.extract(SourceFile("K2.kt", "/K2.kt", "r",
      "K2.kt", "kt", "kotlin",
      """package com.ex
        |class Config(
        |    val host: String,
        |    val port: Int
        |) : Base(), Marker {
        |    fun url(): String { return render(host) }
        |}
        |data class Plain(val x: Int)
        |class After {
        |    fun touch() { }
        |}
        |""".stripMargin))
    val kfqns = kt.definitions.map(_.fqn).toSet
    // members of the multiline-header class nest under it; the body-less
    // data class does not swallow the class that follows it
    assert(kfqns.contains("com.ex.Config.url"), s"got $kfqns")
    assert(kfqns.contains("com.ex.After.touch"), s"got $kfqns")
    // the supertype list on the continuation line still yields extends facts
    assert(kt.typeFacts.exists(f =>
      f.factKind == "extends" && f.detail == "Base"), kt.typeFacts.toString)
  }
}
