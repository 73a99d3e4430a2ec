require_relative 'profile'
require_relative '../services/email_service'
require_relative '../services/notification_service'

class User
  include ActiveModel::Validations

  attr_reader :id, :email
  attr_accessor :first_name, :last_name, :active

  validates :email, presence: true

  USERS = {}

  def initialize(email:, first_name: '', last_name: '')
    @id = USERS.size + 1
    @email = email
    @first_name = first_name
    @last_name = last_name
    @active = false
  end

  def self.find_by_email(email)
    USERS[email]
  end

  def self.create_with_profile(attributes, profile_attributes = {})
    user = new(**attributes)
    USERS[user.email] = user
    user.create_profile
    user.update_profile(profile_attributes) unless profile_attributes.empty?
    user
  end

  def full_name
    "#{first_name} #{last_name}".strip
  end

  def create_profile
    @profile = Profile.create_default(id)
  end

  def update_profile(attributes)
    profile = get_profile
    attributes.each do |key, value|
      profile.public_send("#{key}=", value)
    end
    true
  end

  def get_profile
    @profile ||= Profile.find_by_user_id(id) || create_profile
  end

  def send_welcome_email
    EmailService.send_welcome(self)
  end

  def activate!
    return false if active

    self.active = true
    send_notification('Your account is now active')
    true
  end

  private

  def send_notification(message)
    NotificationService.notify(self, message)
  end
end
