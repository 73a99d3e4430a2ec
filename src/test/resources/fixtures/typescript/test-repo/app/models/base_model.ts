import { randomUUID } from 'crypto';

/**
 * A small in-memory active-record base class: every model subclass gets its
 * own table, keyed by the subclass name.
 */
export class BaseModel {
  private static storage: Map<string, Map<string, BaseModel>> = new Map();

  id: string;
  createdAt: Date;
  updatedAt: Date;
  protected attributes: Record<string, unknown>;

  constructor(attributes: Record<string, unknown> = {}) {
    this.id = typeof attributes.id === 'string' ? attributes.id : '';
    this.attributes = { ...attributes };
    this.createdAt = new Date();
    this.updatedAt = this.createdAt;
  }

  static find(id: string): BaseModel | undefined {
    return this.getStorage().get(id);
  }

  static all(): BaseModel[] {
    return Array.from(this.getStorage().values());
  }

  static where(predicate: (model: BaseModel) => boolean): BaseModel[] {
    return this.all().filter(predicate);
  }

  static create(attributes: Record<string, unknown>): BaseModel {
    const model = new this(attributes);
    model.save();
    return model;
  }

  save(): boolean {
    if (!this.persisted) {
      this.id = randomUUID();
      BaseModel.addToStorage(this);
    } else {
      this.touch();
      BaseModel.updateInStorage(this);
    }
    return true;
  }

  update(attributes: Record<string, unknown>): boolean {
    Object.assign(this.attributes, attributes);
    return this.save();
  }

  destroy(): boolean {
    return BaseModel.getStorage.call(this.constructor).delete(this.id);
  }

  get persisted(): boolean {
    return this.id !== '';
  }

  toObject(): Record<string, unknown> {
    return {
      id: this.id,
      ...this.attributes,
      createdAt: this.createdAt.toISOString(),
      updatedAt: this.updatedAt.toISOString(),
    };
  }

  touch(): void {
    this.updatedAt = new Date();
  }

  protected static getStorage(): Map<string, BaseModel> {
    const table = this.name;
    if (!BaseModel.storage.has(table)) {
      BaseModel.storage.set(table, new Map());
    }
    return BaseModel.storage.get(table)!;
  }

  private static addToStorage(model: BaseModel): void {
    const table = (model.constructor as typeof BaseModel).getStorage();
    table.set(model.id, model);
  }

  private static updateInStorage(model: BaseModel): void {
    const table = (model.constructor as typeof BaseModel).getStorage();
    if (table.has(model.id)) {
      table.set(model.id, model);
    }
  }
}
