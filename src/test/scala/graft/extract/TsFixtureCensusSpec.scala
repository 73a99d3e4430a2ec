package graft.extract

import org.scalatest.funsuite.AnyFunSuite

/** TypeScript extractor fidelity: EXACT hand-annotated definition census
  * over the TS fixture tree kept in this repo
  * (src/test/resources/fixtures/typescript/test-repo — 5 .ts files,
  * 488 lines).
  *
  * The tree is original, not the reference's fixture bytes: each file was
  * written from its (file, kind, fqn) rows below and the constructs these
  * notes name, before the extractor was run on it. It holds namespaces
  * (one nested in another), constructors, get-accessors, constructors and
  * static methods whose object-type parameter annotations are
  * `;`-separated, an arrow-function const with a return-type annotation,
  * namespace-level `const`/`let` bindings, and 9 imported symbols, 3 of
  * them in main.ts.
  *
  * No TypeScript parser exists on this box (no tsc, no tree-sitter CLI;
  * acorn parses only the JS subset — probes recorded in COVERAGE.md), so
  * the ground truth is MANUAL. The reference's e2e test asserts 84
  * DefinitionNodes for its own TS test-repo, 32 of them in the two model
  * files, and 9 ImportedSymbolNodes, 3 in main.ts (indexer/src/tests.rs:
  * 207-212, 239-244, 254-267). On this tree those counts are targets the
  * tree was written to meet, not an independent cross-check of the hand
  * count against tree-sitter. Asserted EXACTLY in both directions — any
  * missed definition (recall) or fabricated one (precision) fails.
  *
  * Taxonomy notes (reference semantics):
  *  - namespaces are NOT definition rows (typescript.rs:41-43 skips
  *    Namespace) but their segments scope member FQNs —
  *    `Authentication.Token`, `UserManagement.createUser`;
  *  - constructors ARE Method definitions named `constructor` (the 32-defs
  *    model-file count only works with both constructors included);
  *  - get-accessors are Methods (fullName/displayName);
  *  - namespace-level `const`/`let` bindings without an arrow function
  *    (MAX_LOGIN_ATTEMPTS, providers, tokens) are not definitions; one
  *    bound to an arrow function (validateToken) is a Function.
  */
class TsFixtureCensusSpec extends AnyFunSuite {

  private lazy val root = graft.TestFixtures.root("typescript/test-repo")

  // (file, kind, fqn) — hand-derived from the fixture sources
  private val truth: Seq[(String, String, String)] = Seq(
    // app/models/base_model.ts: class + constructor + 13 members
    ("app/models/base_model.ts", "Class", "BaseModel"),
    ("app/models/base_model.ts", "Method", "BaseModel.constructor"),
    ("app/models/base_model.ts", "Method", "BaseModel.find"),
    ("app/models/base_model.ts", "Method", "BaseModel.all"),
    ("app/models/base_model.ts", "Method", "BaseModel.where"),
    ("app/models/base_model.ts", "Method", "BaseModel.create"),
    ("app/models/base_model.ts", "Method", "BaseModel.save"),
    ("app/models/base_model.ts", "Method", "BaseModel.update"),
    ("app/models/base_model.ts", "Method", "BaseModel.destroy"),
    ("app/models/base_model.ts", "Method", "BaseModel.persisted"),
    ("app/models/base_model.ts", "Method", "BaseModel.toObject"),
    ("app/models/base_model.ts", "Method", "BaseModel.touch"),
    ("app/models/base_model.ts", "Method", "BaseModel.getStorage"),
    ("app/models/base_model.ts", "Method", "BaseModel.addToStorage"),
    ("app/models/base_model.ts", "Method", "BaseModel.updateInStorage"),
    // app/models/user_model.ts: class + constructor + 4 statics + 2
    // getters + 9 instance methods
    ("app/models/user_model.ts", "Class", "UserModel"),
    ("app/models/user_model.ts", "Method", "UserModel.constructor"),
    ("app/models/user_model.ts", "Method", "UserModel.findByUsername"),
    ("app/models/user_model.ts", "Method", "UserModel.findByEmail"),
    ("app/models/user_model.ts", "Method", "UserModel.activeUsers"),
    ("app/models/user_model.ts", "Method", "UserModel.inactiveUsers"),
    ("app/models/user_model.ts", "Method", "UserModel.fullName"),
    ("app/models/user_model.ts", "Method", "UserModel.displayName"),
    ("app/models/user_model.ts", "Method", "UserModel.activate"),
    ("app/models/user_model.ts", "Method", "UserModel.deactivate"),
    ("app/models/user_model.ts", "Method", "UserModel.changeEmail"),
    ("app/models/user_model.ts", "Method", "UserModel.changeUsername"),
    ("app/models/user_model.ts", "Method", "UserModel.toObject"),
    ("app/models/user_model.ts", "Method", "UserModel.valid"),
    ("app/models/user_model.ts", "Method", "UserModel.getErrors"),
    ("app/models/user_model.ts", "Method", "UserModel.validateUsername"),
    ("app/models/user_model.ts", "Method", "UserModel.validateEmail"),
    // lib/authentication.ts: a top-level error class, then everything
    // under `namespace Authentication` (incl. the nested Providers
    // namespace — two namespace segments, zero namespace def rows)
    ("lib/authentication.ts", "Class", "AuthenticationError"),
    ("lib/authentication.ts", "Method", "AuthenticationError.constructor"),
    ("lib/authentication.ts", "Function", "Authentication.enabled"),
    ("lib/authentication.ts", "Function", "Authentication.authenticateUser"),
    ("lib/authentication.ts", "Class", "Authentication.Token"),
    ("lib/authentication.ts", "Method", "Authentication.Token.constructor"),
    ("lib/authentication.ts", "Method", "Authentication.Token.expired"),
    ("lib/authentication.ts", "Method", "Authentication.Token.refresh"),
    ("lib/authentication.ts", "Method", "Authentication.Token.generateToken"),
    ("lib/authentication.ts", "Class", "Authentication.RefreshToken"),
    ("lib/authentication.ts", "Method",
      "Authentication.RefreshToken.constructor"),
    ("lib/authentication.ts", "Function", "Authentication.createSession"),
    ("lib/authentication.ts", "Function", "Authentication.validateToken"),
    ("lib/authentication.ts", "Function", "Authentication.revokeToken"),
    ("lib/authentication.ts", "Function", "Authentication.configureProvider"),
    ("lib/authentication.ts", "Function", "Authentication.getProvider"),
    ("lib/authentication.ts", "Class",
      "Authentication.Providers.LdapProvider"),
    ("lib/authentication.ts", "Method",
      "Authentication.Providers.LdapProvider.constructor"),
    ("lib/authentication.ts", "Method",
      "Authentication.Providers.LdapProvider.authenticate"),
    ("lib/authentication.ts", "Method",
      "Authentication.Providers.LdapProvider.connectToLdap"),
    ("lib/authentication.ts", "Method",
      "Authentication.Providers.LdapProvider.verifyCredentials"),
    ("lib/authentication.ts", "Class",
      "Authentication.Providers.OAuthProvider"),
    ("lib/authentication.ts", "Method",
      "Authentication.Providers.OAuthProvider.constructor"),
    ("lib/authentication.ts", "Method",
      "Authentication.Providers.OAuthProvider.authenticate"),
    ("lib/authentication.ts", "Method",
      "Authentication.Providers.OAuthProvider.exchangeCodeForToken"),
    // lib/user_management.ts: everything under `namespace UserManagement`;
    // both constructors carry `;`-separated object-type annotations (the
    // relaxed class-body member path)
    ("lib/user_management.ts", "Class", "UserManagement.User"),
    ("lib/user_management.ts", "Method", "UserManagement.User.constructor"),
    ("lib/user_management.ts", "Method",
      "UserManagement.User.findByUsername"),
    ("lib/user_management.ts", "Method", "UserManagement.User.findByEmail"),
    ("lib/user_management.ts", "Method", "UserManagement.User.create"),
    ("lib/user_management.ts", "Method",
      "UserManagement.User.verifyPassword"),
    ("lib/user_management.ts", "Method",
      "UserManagement.User.updatePassword"),
    ("lib/user_management.ts", "Method", "UserManagement.User.deactivate"),
    ("lib/user_management.ts", "Method", "UserManagement.User.activate"),
    ("lib/user_management.ts", "Method", "UserManagement.User.toObject"),
    ("lib/user_management.ts", "Method", "UserManagement.User.hashPassword"),
    ("lib/user_management.ts", "Method", "UserManagement.User.getUsersDb"),
    ("lib/user_management.ts", "Class", "UserManagement.UserRepository"),
    ("lib/user_management.ts", "Method",
      "UserManagement.UserRepository.allUsers"),
    ("lib/user_management.ts", "Method",
      "UserManagement.UserRepository.activeUsers"),
    ("lib/user_management.ts", "Method",
      "UserManagement.UserRepository.inactiveUsers"),
    ("lib/user_management.ts", "Method",
      "UserManagement.UserRepository.count"),
    ("lib/user_management.ts", "Function", "UserManagement.createUser"),
    ("lib/user_management.ts", "Function", "UserManagement.authenticate"),
    // main.ts
    ("main.ts", "Class", "Application"),
    ("main.ts", "Method", "Application.constructor"),
    ("main.ts", "Method", "Application.run"),
    ("main.ts", "Method", "Application.setupAuthentication"),
    ("main.ts", "Method", "Application.createSampleUsers"),
    ("main.ts", "Method", "Application.testAuthentication"),
    ("main.ts", "Method", "Application.testTokenManagement"),
    ("main.ts", "Method", "Application.testAuthenticationProviders"))

  private def extractAll(): Seq[Extracted] = {
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.walk(root)
    try {
      s.iterator().asScala.toSeq.filter(_.toString.endsWith(".ts"))
        .sortBy(_.toString)
        .map { p =>
          val rel = root.relativize(p).toString
          val content =
            new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          Extractors.extract(SourceFile(rel, p.toString, "tsfix",
            p.getFileName.toString, "ts", "typescript", content))
        }
    } finally s.close()
  }

  test("TS fixtures: exact hand-annotated definition census (both directions; " +
    "global count == the reference's asserted 84, models == its 32)") {
    val got = extractAll().flatMap(ex =>
      ex.definitions.map(d => (ex.file.path, d.definitionType, d.fqn)))
    // the reference's own census anchors (tests.rs:207-212, 239-244)
    assert(truth.length == 84)
    assert(truth.count(_._1.startsWith("app/models/")) == 32)
    val missed = truth.toSet -- got.toSet
    val extra = got.toSet -- truth.toSet
    assert(missed.isEmpty, s"missed definitions: ${missed.toSeq.sorted}")
    assert(extra.isEmpty, s"fabricated definitions: ${extra.toSeq.sorted}")
    assert(got.length == truth.length,
      s"extractor emitted ${got.length} defs, census expects ${truth.length}")
  }

  test("TS fixtures: imported-symbol census matches the reference's 9/3 counts") {
    // tests.rs:254-267: 9 ImportedSymbolNodes total, 3 of them in main.ts
    val byFile = extractAll().map(ex => ex.file.path -> ex.imports.length).toMap
    assert(byFile.values.sum == 9, byFile.toString)
    assert(byFile("main.ts") == 3, byFile.toString)
  }
}
