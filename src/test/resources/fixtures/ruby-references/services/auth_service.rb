require 'securerandom'

class Session
  attr_reader :user, :token, :expires_at

  def initialize(user, ttl: 3600)
    @user = user
    @token = SecureRandom.hex(16)
    @expires_at = Time.now + ttl
  end
end

class AuthService
  SESSIONS = {}

  def self.create_session(user)
    session = Session.new(user)
    SESSIONS[session.token] = session
    session
  end

  def self.authenticate_token(token)
    session = SESSIONS[token]
    return nil if session.nil?

    if session.expires_at < Time.now
      SESSIONS.delete(token)
      return nil
    end
    session
  end

  def self.refresh_session(token)
    session = authenticate_token(token)
    return nil unless session

    SESSIONS.delete(token)
    create_session(session.user)
  end
end
