class Profile
  attr_accessor :user_id, :bio, :avatar_url, :updated_at

  PROFILES = {}

  def self.find_by_user_id(user_id)
    PROFILES[user_id]
  end

  def self.create_default(user_id)
    profile = new
    profile.user_id = user_id
    profile.bio = ''
    PROFILES[user_id] = profile
  end

  def update_avatar(url)
    self.avatar_url = url
    self.updated_at = Time.now
    true
  end

  def full_profile_data
    {
      user_id: user_id,
      bio: bio,
      avatar_url: avatar_url,
      summary: generate_summary
    }
  end

  def generate_summary
    if bio.nil? || bio.empty?
      "Profile of user #{user_id}"
    else
      bio[0, 80]
    end
  end
end
