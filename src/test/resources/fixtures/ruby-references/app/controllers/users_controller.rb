require_relative '../models/user'
require_relative '../models/profile'
require_relative '../../services/auth_service'

class UsersController < ApplicationController
  before_action :authenticate_user
  before_action :find_user, only: [:show, :update, :destroy, :activate]

  def index
    @users = User::USERS.values
    render json: @users.map(&:full_name)
  end

  def show
    render json: @user.get_profile.full_profile_data
  end

  def create
    @user = User.create_with_profile(user_params, profile_params)
    if @user
      @user.send_welcome_email
      render json: { id: @user.id }, status: :created
    else
      render json: { error: 'invalid user' }, status: :unprocessable_entity
    end
  end

  def update
    if @user.update_profile(profile_params)
      render json: @user.get_profile.full_profile_data
    else
      render json: { error: 'update failed' }, status: :unprocessable_entity
    end
  end

  def destroy
    User::USERS.delete(@user.email)
    head :no_content
  end

  def activate
    @user.activate!
    render json: { id: @user.id, active: @user.active }
  end

  private

  def find_user
    @user = User.find_by_email(params[:email])
    head :not_found unless @user
  end

  def user_params
    params.require(:user).permit(:email, :first_name, :last_name).to_h.transform_keys(&:to_sym)
  end

  def profile_params
    params.fetch(:profile, {}).permit(:bio, :avatar_url).to_h
  end

  def authenticate_user
    session = AuthService.authenticate_token(request.headers['Authorization'])
    head :unauthorized unless session
  end
end
