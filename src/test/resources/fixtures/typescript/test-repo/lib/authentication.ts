import { UserManagement } from './user_management';
import { createHmac, randomBytes } from 'crypto';

export class AuthenticationError extends Error {
  constructor(message: string) {
    super(message);
    this.name = 'AuthenticationError';
  }
}

export namespace Authentication {
  const MAX_LOGIN_ATTEMPTS = 5;
  const TOKEN_TTL_MS = 60 * 60 * 1000;
  const providers: Record<string, Providers.LdapProvider | Providers.OAuthProvider> = {};
  const failedAttempts = new Map<string, number>();
  let tokens: Token[] = [];

  export function enabled(): boolean {
    return Object.keys(providers).length > 0;
  }

  export function authenticateUser(username: string, password: string): UserManagement.User {
    const attempts = failedAttempts.get(username) ?? 0;
    if (attempts >= MAX_LOGIN_ATTEMPTS) {
      throw new AuthenticationError(`too many failed attempts for ${username}`);
    }
    const user = UserManagement.authenticate(username, password);
    if (!user) {
      failedAttempts.set(username, attempts + 1);
      throw new AuthenticationError('invalid credentials');
    }
    failedAttempts.delete(username);
    return user;
  }

  export class Token {
    value: string;
    expiresAt: number;

    constructor(public readonly userId: string, private readonly ttlMs: number = TOKEN_TTL_MS) {
      this.value = this.generateToken();
      this.expiresAt = Date.now() + ttlMs;
    }

    get expired(): boolean {
      return Date.now() >= this.expiresAt;
    }

    refresh(): void {
      this.value = this.generateToken();
      this.expiresAt = Date.now() + this.ttlMs;
    }

    private generateToken(): string {
      return randomBytes(24).toString('hex');
    }
  }

  export class RefreshToken extends Token {
    constructor(userId: string) {
      super(userId, TOKEN_TTL_MS * 24);
    }
  }

  export function createSession(user: UserManagement.User): Token {
    const token = new Token(user.id);
    tokens.push(token);
    return token;
  }

  export const validateToken = (value: string): boolean => {
    const token = tokens.find((candidate) => candidate.value === value);
    return token !== undefined && !token.expired;
  };

  export function revokeToken(value: string): void {
    tokens = tokens.filter((token) => token.value !== value);
  }

  export function configureProvider(name: string, provider: Providers.LdapProvider | Providers.OAuthProvider): void {
    providers[name] = provider;
  }

  export function getProvider(name: string): Providers.LdapProvider | Providers.OAuthProvider | undefined {
    return providers[name];
  }

  export namespace Providers {
    export class LdapProvider {
      constructor(private readonly host: string, private readonly baseDn: string) {}

      authenticate(username: string, password: string): boolean {
        const connection = this.connectToLdap();
        return connection !== null && this.verifyCredentials(username, password);
      }

      private connectToLdap(): string | null {
        return this.host ? `ldap://${this.host}/${this.baseDn}` : null;
      }

      private verifyCredentials(username: string, password: string): boolean {
        return username.length > 0 && password.length >= 8;
      }
    }

    export class OAuthProvider {
      constructor(private readonly clientId: string, private readonly clientSecret: string) {}

      async authenticate(code: string): Promise<Token | null> {
        const accessToken = await this.exchangeCodeForToken(code);
        return accessToken ? new Token(this.clientId) : null;
      }

      private async exchangeCodeForToken(code: string): Promise<string> {
        return createHmac('sha256', this.clientSecret).update(code).digest('hex');
      }
    }
  }
}
