import { BaseModel } from './base_model';

export class UserModel extends BaseModel {
  username: string;
  email: string;
  firstName: string;
  lastName: string;
  active: boolean;
  private errors: string[] = [];

  constructor({ username, email, firstName = '', lastName = '' }: { username: string; email: string; firstName?: string; lastName?: string }) {
    super({ username, email, firstName, lastName });
    this.username = username;
    this.email = email;
    this.firstName = firstName;
    this.lastName = lastName;
    this.active = true;
  }

  static findByUsername(username: string): UserModel | undefined {
    return UserModel.where((user) => (user as UserModel).username === username)[0] as UserModel | undefined;
  }

  static findByEmail(email: string): UserModel | undefined {
    return UserModel.where((user) => (user as UserModel).email === email)[0] as UserModel | undefined;
  }

  static activeUsers(): UserModel[] {
    return UserModel.where((user) => (user as UserModel).active) as UserModel[];
  }

  static inactiveUsers(): UserModel[] {
    return UserModel.where((user) => !(user as UserModel).active) as UserModel[];
  }

  get fullName(): string {
    return `${this.firstName} ${this.lastName}`.trim();
  }

  get displayName(): string {
    return this.fullName || this.username;
  }

  activate(): void {
    this.active = true;
    this.save();
  }

  deactivate(): void {
    this.active = false;
    this.save();
  }

  changeEmail(email: string): boolean {
    const previous = this.email;
    this.email = email;
    if (!this.valid()) {
      this.email = previous;
      return false;
    }
    return this.update({ email });
  }

  changeUsername(username: string): boolean {
    const previous = this.username;
    this.username = username;
    if (!this.valid()) {
      this.username = previous;
      return false;
    }
    return this.update({ username });
  }

  toObject(): Record<string, unknown> {
    return {
      ...super.toObject(),
      fullName: this.fullName,
      active: this.active,
    };
  }

  valid(): boolean {
    this.errors = [];
    this.validateUsername();
    this.validateEmail();
    return this.errors.length === 0;
  }

  getErrors(): string[] {
    return [...this.errors];
  }

  private validateUsername(): void {
    if (this.username.length < 3) {
      this.errors.push('username must be at least 3 characters');
    }
  }

  private validateEmail(): void {
    if (!/^[^@\s]+@[^@\s]+$/.test(this.email)) {
      this.errors.push('email is invalid');
    }
  }
}
