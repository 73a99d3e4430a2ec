class EmailService
  FROM_ADDRESS = 'noreply@example.com'

  def self.send_welcome(user)
    puts "[#{FROM_ADDRESS}] to #{user.email}: Welcome, #{user.full_name}!"
    true
  end

  def self.send_reset_password(user, token)
    url = build_reset_url(token)
    puts "[#{FROM_ADDRESS}] to #{user.email}: reset your password at #{url}"
    true
  end

  def self.send_notification(user, message)
    puts "[#{FROM_ADDRESS}] to #{user.email}: #{message}"
    true
  end

  private

  def self.build_reset_url(token)
    "https://example.com/password/reset?token=#{token}"
  end
  private_class_method :build_reset_url
end
