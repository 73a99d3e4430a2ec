package graft.extract

import org.scalatest.funsuite.AnyFunSuite

/** Ruby extractor fidelity: EXACT hand-annotated definition census over
  * the ruby-references fixture tree kept in this repo
  * (src/test/resources/fixtures/ruby-references — 7 .rb files, 374 lines).
  *
  * The tree is original, not the reference's fixture bytes: each file was
  * written from its (file, kind, fqn) rows below and the constructs these
  * notes name, before the extractor was run on it. Its layout follows the
  * reference's ruby-references tree, but the 24 call-resolution edges
  * ruby/tests.rs:96-425 asserts belong to the reference's own call sites;
  * ReferenceFixturesSpec replays those on the reference checkout only.
  *
  * No Ruby interpreter exists on this box (no ruby, no tree-sitter CLI —
  * probes recorded in COVERAGE.md), so the ground truth is MANUAL.
  * Asserted EXACTLY in both directions — any missed definition (recall)
  * or fabricated one (precision) fails.
  *
  * Taxonomy notes (documented divergences from the reference's Ruby
  * analyzer, analysis/languages/ruby/):
  *  - `def self.x` (singleton methods) lower to Method like instance
  *    methods — the reference's SingletonMethod subtype exists only to
  *    pick CLASS_TO_SINGLETON_METHOD nesting edges; our call-edge parity
  *    for those flows is asserted in ReferenceFixturesSpec;
  *  - `attr_reader`/`attr_accessor` synthesized accessors are not
  *    definition rows (they surface as resolvable names via type facts);
  *  - `before_action`/`validates` macro calls are references, never defs;
  *  - a top-level `if __FILE__ == $0 … end` guard is not a def and must
  *    not unbalance the `end`s;
  *  - method names keep Ruby's `!`/`?` suffixes (`activate!`).
  */
class RubyFixtureCensusSpec extends AnyFunSuite {

  private lazy val root = graft.TestFixtures.root("ruby-references")

  // (file, kind, fqn) — hand-derived from the fixture sources
  private val truth: Seq[(String, String, String)] = Seq(
    // app/controllers/users_controller.rb: 6 actions + 4 privates
    ("app/controllers/users_controller.rb", "Class", "UsersController"),
    ("app/controllers/users_controller.rb", "Method", "UsersController.index"),
    ("app/controllers/users_controller.rb", "Method", "UsersController.show"),
    ("app/controllers/users_controller.rb", "Method", "UsersController.create"),
    ("app/controllers/users_controller.rb", "Method", "UsersController.update"),
    ("app/controllers/users_controller.rb", "Method", "UsersController.destroy"),
    ("app/controllers/users_controller.rb", "Method", "UsersController.activate"),
    ("app/controllers/users_controller.rb", "Method", "UsersController.find_user"),
    ("app/controllers/users_controller.rb", "Method", "UsersController.user_params"),
    ("app/controllers/users_controller.rb", "Method", "UsersController.profile_params"),
    ("app/controllers/users_controller.rb", "Method", "UsersController.authenticate_user"),
    // app/models/profile.rb: 2 singleton + 3 instance methods
    ("app/models/profile.rb", "Class", "Profile"),
    ("app/models/profile.rb", "Method", "Profile.find_by_user_id"),
    ("app/models/profile.rb", "Method", "Profile.create_default"),
    ("app/models/profile.rb", "Method", "Profile.update_avatar"),
    ("app/models/profile.rb", "Method", "Profile.full_profile_data"),
    ("app/models/profile.rb", "Method", "Profile.generate_summary"),
    // app/models/user.rb: initialize + 2 singleton + 7 instance (incl.
    // the bang method and the private)
    ("app/models/user.rb", "Class", "User"),
    ("app/models/user.rb", "Method", "User.initialize"),
    ("app/models/user.rb", "Method", "User.find_by_email"),
    ("app/models/user.rb", "Method", "User.create_with_profile"),
    ("app/models/user.rb", "Method", "User.full_name"),
    ("app/models/user.rb", "Method", "User.create_profile"),
    ("app/models/user.rb", "Method", "User.update_profile"),
    ("app/models/user.rb", "Method", "User.get_profile"),
    ("app/models/user.rb", "Method", "User.send_welcome_email"),
    ("app/models/user.rb", "Method", "User.activate!"),
    ("app/models/user.rb", "Method", "User.send_notification"),
    // app/services/email_service.rb: 4 singleton methods (one under
    // `private`, which does not end the class body)
    ("app/services/email_service.rb", "Class", "EmailService"),
    ("app/services/email_service.rb", "Method", "EmailService.send_welcome"),
    ("app/services/email_service.rb", "Method", "EmailService.send_reset_password"),
    ("app/services/email_service.rb", "Method", "EmailService.send_notification"),
    ("app/services/email_service.rb", "Method", "EmailService.build_reset_url"),
    // app/services/notification_service.rb: 3 public + 3 private
    // singleton methods; the `case … end` inside notify must not eat the
    // class scope
    ("app/services/notification_service.rb", "Class", "NotificationService"),
    ("app/services/notification_service.rb", "Method", "NotificationService.notify"),
    ("app/services/notification_service.rb", "Method", "NotificationService.notify_all"),
    ("app/services/notification_service.rb", "Method", "NotificationService.send_batch_notifications"),
    ("app/services/notification_service.rb", "Method", "NotificationService.build_notification"),
    ("app/services/notification_service.rb", "Method", "NotificationService.determine_delivery_method"),
    ("app/services/notification_service.rb", "Method", "NotificationService.log_notification"),
    // services/auth_service.rb: two sibling top-level classes
    ("services/auth_service.rb", "Class", "Session"),
    ("services/auth_service.rb", "Method", "Session.initialize"),
    ("services/auth_service.rb", "Class", "AuthService"),
    ("services/auth_service.rb", "Method", "AuthService.create_session"),
    ("services/auth_service.rb", "Method", "AuthService.authenticate_token"),
    ("services/auth_service.rb", "Method", "AuthService.refresh_session"),
    // main.rb: Application (8 methods, several containing do-blocks and
    // `if … end` statements whose `end`s must balance) + TestUtilities,
    // plus a top-level `if __FILE__ == $0 … end` guard that is NOT a def
    ("main.rb", "Class", "Application"),
    ("main.rb", "Method", "Application.initialize"),
    ("main.rb", "Method", "Application.run"),
    ("main.rb", "Method", "Application.setup_services"),
    ("main.rb", "Method", "Application.test_user_creation_flow"),
    ("main.rb", "Method", "Application.test_authentication_flow"),
    ("main.rb", "Method", "Application.test_notification_flow"),
    ("main.rb", "Method", "Application.test_controller_actions"),
    ("main.rb", "Method", "Application.test_method_chaining"),
    ("main.rb", "Class", "TestUtilities"),
    ("main.rb", "Method", "TestUtilities.create_test_data"),
    ("main.rb", "Method", "TestUtilities.cleanup_test_data"),
    ("main.rb", "Method", "TestUtilities.send_bulk_notifications"))

  test("ruby-references fixtures: exact hand-annotated definition census " +
    "(both directions)") {
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.walk(root)
    val got = try {
      s.iterator().asScala.toSeq.filter(_.toString.endsWith(".rb"))
        .flatMap { p =>
          val rel = root.relativize(p).toString
          val content =
            new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          Extractors.extract(SourceFile(rel, p.toString, "rbfix",
            p.getFileName.toString, "rb", "ruby", content)).definitions
            .map(d => (rel, d.definitionType, d.fqn))
        }
    } finally s.close()
    // 9 classes + 50 methods over the 7 files
    assert(truth.length == 59)
    val missed = truth.toSet -- got.toSet
    val extra = got.toSet -- truth.toSet
    assert(missed.isEmpty, s"missed definitions: ${missed.toSeq.sorted}")
    assert(extra.isEmpty, s"fabricated definitions: ${extra.toSeq.sorted}")
    assert(got.length == truth.length,
      s"extractor emitted ${got.length} defs, census expects ${truth.length}")
  }
}
