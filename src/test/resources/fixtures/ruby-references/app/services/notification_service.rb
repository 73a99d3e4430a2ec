require_relative 'email_service'

class NotificationService
  def self.notify(user, message)
    notification = build_notification(user, message)
    case determine_delivery_method(user)
    when :email
      EmailService.send_notification(user, message)
    when :log
      log_notification(notification)
    end
    notification
  end

  def self.notify_all(users, message)
    users.map do |user|
      notify(user, message)
    end
  end

  def self.send_batch_notifications(users, message, batch_size: 10)
    users.each_slice(batch_size) do |batch|
      notify_all(batch, message)
    end
  end

  private

  def self.build_notification(user, message)
    { user_id: user.id, message: message, sent_at: Time.now }
  end

  def self.determine_delivery_method(user)
    user.email.nil? ? :log : :email
  end

  def self.log_notification(notification)
    puts "notification for #{notification[:user_id]}: #{notification[:message]}"
  end

  private_class_method :build_notification, :determine_delivery_method, :log_notification
end
