import { Authentication } from './lib/authentication';
import { UserManagement } from './lib/user_management';
import { UserModel } from './app/models/user_model';

class Application {
  private readonly users: UserManagement.User[] = [];

  constructor(private readonly verbose: boolean = true) {}

  async run(): Promise<void> {
    this.setupAuthentication();
    this.createSampleUsers();
    this.testAuthentication();
    this.testTokenManagement();
    await this.testAuthenticationProviders();
  }

  setupAuthentication(): void {
    const ldap = new Authentication.Providers.LdapProvider('ldap.example.com', 'dc=example,dc=com');
    const oauth = new Authentication.Providers.OAuthProvider('client-id', 'client-secret');
    Authentication.configureProvider('ldap', ldap);
    Authentication.configureProvider('oauth', oauth);
  }

  createSampleUsers(): void {
    this.users.push(UserManagement.createUser('alice', 'alice@example.com', 'correct-horse'));
    this.users.push(UserManagement.createUser('bob', 'bob@example.com', 'battery-staple'));
    const model = new UserModel({ username: 'carol', email: 'carol@example.com', firstName: 'Carol' });
    model.save();
    if (this.verbose) {
      console.log(`created ${this.users.length + 1} users, last: ${model.displayName}`);
    }
  }

  testAuthentication(): void {
    try {
      const user = Authentication.authenticateUser('alice', 'correct-horse');
      console.log(`authenticated ${user.username}`);
    } catch (error) {
      console.error('authentication failed', error);
    }
  }

  testTokenManagement(): void {
    const token = Authentication.createSession(this.users[0]);
    console.log('token valid:', Authentication.validateToken(token.value));
    token.refresh();
    Authentication.revokeToken(token.value);
    console.log('token valid after revoke:', Authentication.validateToken(token.value));
  }

  async testAuthenticationProviders(): Promise<void> {
    const ldap = Authentication.getProvider('ldap');
    if (ldap instanceof Authentication.Providers.LdapProvider) {
      console.log('ldap:', ldap.authenticate('bob', 'battery-staple'));
    }
    const oauth = Authentication.getProvider('oauth');
    if (oauth instanceof Authentication.Providers.OAuthProvider) {
      console.log('oauth:', await oauth.authenticate('code-123'));
    }
  }
}

const app = new Application();
app.run().catch((error) => {
  console.error(error);
});
