require_relative 'app/models/user'
require_relative 'app/models/profile'
require_relative 'app/services/email_service'
require_relative 'app/services/notification_service'
require_relative 'app/controllers/users_controller'
require_relative 'services/auth_service'

class Application
  attr_reader :users

  def initialize
    @users = []
    @services = {}
  end

  def run
    setup_services
    test_user_creation_flow
    test_authentication_flow
    test_notification_flow
    test_controller_actions
    test_method_chaining
  end

  def setup_services
    @services[:email] = EmailService
    @services[:notification] = NotificationService
    @services[:auth] = AuthService
  end

  def test_user_creation_flow
    user = User.create_with_profile({ email: 'alice@example.com', first_name: 'Alice' })
    @users << user
    if user.get_profile
      puts "created #{user.full_name}"
    end
  end

  def test_authentication_flow
    @users.each do |user|
      session = AuthService.create_session(user)
      refreshed = AuthService.refresh_session(session.token)
      if refreshed.nil?
        puts "refresh failed for #{user.email}"
      end
    end
  end

  def test_notification_flow
    NotificationService.send_batch_notifications(@users, 'Welcome aboard', batch_size: 2)
    @users.each do |user|
      user.activate!
    end
  end

  def test_controller_actions
    controller = UsersController.new
    [:index, :show, :create].each do |action|
      puts "UsersController##{action}: #{controller.respond_to?(action)}"
    end
  end

  def test_method_chaining
    summary = User.find_by_email('alice@example.com')&.get_profile&.generate_summary
    puts summary
  end
end

class TestUtilities
  def self.create_test_data(count)
    (1..count).map do |i|
      User.create_with_profile({ email: "user#{i}@example.com", first_name: "User #{i}" })
    end
  end

  def self.cleanup_test_data
    User::USERS.clear
    Profile::PROFILES.clear
  end

  def self.send_bulk_notifications(users)
    NotificationService.notify_all(users, 'Scheduled maintenance tonight')
  end
end

if __FILE__ == $0
  app = Application.new
  app.run
  TestUtilities.cleanup_test_data
end
