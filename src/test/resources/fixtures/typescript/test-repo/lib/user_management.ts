import { createHash } from 'crypto';

export namespace UserManagement {
  const usersDb: Map<string, User> = new Map();
  let nextId = 1;

  export class User {
    id: string;
    username: string;
    email: string;
    active = true;
    private passwordHash: string;

    constructor({ username, email, password }: { username: string; email: string; password: string }) {
      this.id = String(nextId++);
      this.username = username;
      this.email = email;
      this.passwordHash = User.hashPassword(password);
    }

    static findByUsername(username: string): User | undefined {
      return User.getUsersDb().get(username);
    }

    static findByEmail(email: string): User | undefined {
      for (const user of User.getUsersDb().values()) {
        if (user.email === email) {
          return user;
        }
      }
      return undefined;
    }

    static create(attributes: { username: string; email: string; password: string }): User {
      const user = new User(attributes);
      User.getUsersDb().set(user.username, user);
      return user;
    }

    verifyPassword(password: string): boolean {
      return this.passwordHash === User.hashPassword(password);
    }

    updatePassword(current: string, next: string): boolean {
      if (!this.verifyPassword(current)) {
        return false;
      }
      this.passwordHash = User.hashPassword(next);
      return true;
    }

    deactivate(): void {
      this.active = false;
    }

    activate(): void {
      this.active = true;
    }

    toObject(): { id: string; username: string; email: string; active: boolean } {
      return { id: this.id, username: this.username, email: this.email, active: this.active };
    }

    private static hashPassword(password: string): string {
      return createHash('sha256').update(password).digest('hex');
    }

    private static getUsersDb(): Map<string, User> {
      return usersDb;
    }
  }

  export class UserRepository {
    allUsers(): User[] {
      return Array.from(usersDb.values());
    }

    activeUsers(): User[] {
      return this.allUsers().filter((user) => user.active);
    }

    inactiveUsers(): User[] {
      return this.allUsers().filter((user) => !user.active);
    }

    count(): number {
      return usersDb.size;
    }
  }

  export function createUser(username: string, email: string, password: string): User {
    return User.create({ username, email, password });
  }

  export function authenticate(username: string, password: string): User | null {
    const user = User.findByUsername(username);
    if (user && user.active && user.verifyPassword(password)) {
      return user;
    }
    return null;
  }
}
