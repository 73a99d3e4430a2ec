"""Seeded source-tree generator for the product benchmark.

Emits a multi-language project (Python, TypeScript, Java, Ruby in an exact
40/25/20/15 mix) whose shape is a pure function of the seed, plus a census of what an indexer must find in
it: one record per file (definitions with their kind and fully qualified
name, import count, byte size) and the totals per node kind and edge kind.

The tree is owned by the benchmark, not by the program under test, so a
change to the program can never change its own inputs.

Shape:
  src/p<a>/s<b>/m<i>.<ext>   files spread over a two-level package tree
  every file: 1-3 classes with 1-4 methods each, plus (except Java) 1-3
  top-level functions; every method of a Python, TypeScript or Ruby file
  calls one function of its own file; every file imports 1-3 other files of
  its language, picked with a Zipf skew so a few files have a high import
  fan-in.

Names carry the file index, so every definition name is unique in the tree
and each call site resolves to exactly one definition.
"""
import json
import os
import random

LANGS = [("python", "py", 0.40), ("typescript", "ts", 0.25),
         ("java", "java", 0.20), ("ruby", "rb", 0.15)]


class File:
    def __init__(self, i, lang, ext, pkg, sub):
        self.i, self.lang, self.ext, self.pkg, self.sub = i, lang, ext, pkg, sub
        self.classes = []   # [(class_name, [method_name...])]
        self.functions = []  # top-level function names
        self.imports = []   # indices of imported files
        self.renames = {}   # old method name -> new method name (edits)

    @property
    def dir(self):
        return f"src/p{self.pkg}/s{self.sub}"

    @property
    def stem(self):
        return f"m{self.i}"

    @property
    def path(self):
        return f"{self.dir}/{self.stem}.{self.ext}"

    def method(self, name):
        return self.renames.get(name, name)

    def definitions(self):
        """[(definition_type, fqn)] an indexer must report for this file."""
        out = []
        for cls, methods in self.classes:
            out.append(("Class", self._fqn(cls)))
            for m in methods:
                out.append(("Method", self._fqn(f"{cls}.{self.method(m)}")))
        for fn in self.functions:
            out.append(("Function", self._fqn(fn)))
        return out

    def _fqn(self, name):
        if self.lang == "java":
            return f"p{self.pkg}.s{self.sub}.{name}"
        return name


def _zipf_picker(rng, pool, s=1.1):
    order = pool[:]
    rng.shuffle(order)
    weights = [1.0 / (r + 1) ** s for r in range(len(order))]
    return lambda k: rng.choices(order, weights=weights, k=k)


def plan(seed, n_files):
    """The tree as File records; deterministic in (seed, n_files)."""
    rng = random.Random(seed)
    n_pkg = max(2, int(round(n_files ** 0.5 / 3)))
    # the language mix is exact, only its order is seeded
    mix = [l for l in LANGS[1:] for _ in range(int(n_files * l[2]))]
    mix = [LANGS[0]] * (n_files - len(mix)) + mix
    rng.shuffle(mix)
    files = []
    for i, (lang, ext, _) in enumerate(mix):
        f = File(i, lang, ext, rng.randrange(n_pkg), rng.randrange(4))
        for c in range(rng.randint(1, 3)):
            f.classes.append((f"C{i}_{c}",
                              [f"m{i}_{c}_{m}" for m in range(rng.randint(1, 4))]))
        if lang != "java":
            f.functions = [f"f{i}_{k}" for k in range(rng.randint(1, 3))]
        files.append(f)
    by_lang = {}
    for f in files:
        by_lang.setdefault(f.lang, []).append(f.i)
    pickers = {lang: _zipf_picker(rng, idx) for lang, idx in by_lang.items()}
    for f in files:
        if len(by_lang[f.lang]) < 2:
            continue
        want = rng.randint(1, 3)
        seen = []
        for j in pickers[f.lang](want * 3):
            if j != f.i and j not in seen:
                seen.append(j)
            if len(seen) == want:
                break
        f.imports = seen
    return files


def render(f, files):
    """Source text of one file."""
    imp = [files[j] for j in f.imports]
    out = []
    if f.lang == "python":
        for t in imp:
            out.append(f"from src.p{t.pkg}.s{t.sub}.{t.stem} import {t.functions[0]}")
        out.append("")
        for cls, methods in f.classes:
            out.append(f"class {cls}:")
            for k, m in enumerate(methods):
                out.append(f"    def {f.method(m)}(self, x):")
                out.append(f"        return {f.functions[k % len(f.functions)]}(x)")
            out.append("")
        for k, fn in enumerate(f.functions):
            out.append(f"def {fn}(x):")
            out.append(f"    return x + {k}")
            out.append("")
    elif f.lang == "typescript":
        for t in imp:
            rel = os.path.relpath(f"{t.dir}/{t.stem}", f.dir)
            rel = rel if rel.startswith(".") else "./" + rel
            out.append(f'import {{ {t.functions[0]} }} from "{rel}";')
        out.append("")
        for cls, methods in f.classes:
            out.append(f"export class {cls} {{")
            for k, m in enumerate(methods):
                out.append(f"  {f.method(m)}(x: number): number {{")
                out.append(f"    return {f.functions[k % len(f.functions)]}(x);")
                out.append("  }")
            out.append("}")
            out.append("")
        for k, fn in enumerate(f.functions):
            out.append(f"export function {fn}(x: number): number {{")
            out.append(f"  return x + {k};")
            out.append("}")
            out.append("")
    elif f.lang == "java":
        out.append(f"package p{f.pkg}.s{f.sub};")
        out.append("")
        for t in imp:
            out.append(f"import p{t.pkg}.s{t.sub}.{t.classes[0][0]};")
        out.append("")
        for cls, methods in f.classes:
            out.append(f"class {cls} {{")
            for m in methods:
                out.append(f"    public int {f.method(m)}(int x) {{")
                out.append(f"        return x + 1;")
                out.append("    }")
            out.append("}")
            out.append("")
    else:  # ruby
        for t in imp:
            rel = os.path.relpath(f"{t.dir}/{t.stem}", f.dir)
            out.append(f"require_relative '{rel}'")
        out.append("")
        for cls, methods in f.classes:
            out.append(f"class {cls}")
            for k, m in enumerate(methods):
                out.append(f"  def {f.method(m)}(x)")
                out.append(f"    {f.functions[k % len(f.functions)]}(x)")
                out.append("  end")
            out.append("end")
            out.append("")
        for k, fn in enumerate(f.functions):
            out.append(f"def {fn}(x)")
            out.append(f"  x + {k}")
            out.append("end")
            out.append("")
    return "\n".join(out) + "\n"


def census(files):
    """Totals per node kind and per edge kind, from the plan alone."""
    dirs = set()
    for f in files:
        parts = f.dir.split("/")
        for k in range(1, len(parts) + 1):
            dirs.add("/".join(parts[:k]))
    defs = [d for f in files for d in f.definitions()]
    by_type = {}
    for t, _ in defs:
        by_type[f"def.{t}"] = by_type.get(f"def.{t}", 0) + 1
    return {
        "directory_count": len(dirs),
        "file_count": len(files),
        "definition_count": len(defs),
        "imported_symbol_count": sum(len(f.imports) for f in files),
        **by_type,
        "DIR_TO_DIR": sum(1 for d in dirs if "/" in d),
        "DIR_TO_FILE": len(files),
        "FILE_TO_DEF": len(defs),
        "FILE_TO_IMP": sum(len(f.imports) for f in files),
        "CLASS_TO_METHOD": by_type.get("def.Method", 0),
        # each Python/TypeScript/Ruby method calls one function of its file
        "CALLS": sum(len(m) for f in files if f.lang != "java" for _, m in f.classes),
        "source_bytes": sum(len(render(f, files).encode()) for f in files),
    }


def write_tree(root, files):
    os.makedirs(os.path.join(root, ".git"), exist_ok=True)
    for f in files:
        p = os.path.join(root, f.path)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "w") as fh:
            fh.write(render(f, files))


def edit_plan(seed, files, n_edits):
    """n_edits one-method renames, each in a distinct Python file: the
    content the editor writes, and the fully qualified names that must
    appear and disappear once the edit is indexed. One language keeps the
    reindex path the same from seed to seed."""
    rng = random.Random(seed * 7919 + 1)
    order = [f.i for f in files if f.lang == "python"]
    rng.shuffle(order)
    edits = []
    for k, i in enumerate(order[:n_edits]):
        f = files[i]
        cls, methods = f.classes[rng.randrange(len(f.classes))]
        old = methods[rng.randrange(len(methods))]
        new = f"{old}_e{k}"
        old_fqn = f._fqn(f"{cls}.{old}")
        f.renames[old] = new
        edits.append({"path": f.path, "old_fqn": old_fqn,
                      "new_fqn": f._fqn(f"{cls}.{new}"),
                      "content": render(f, files)})
    return edits


def queries(seed, files, n):
    """Seeded request parameters for the query mix, drawn over the whole
    tree with a Zipf skew (s = 1.1): a few files are asked about often and
    most rarely. The sequence of popularity ranks is one fixed draw; the
    seed decides which file holds which rank. So every run serves the
    same pattern of first-time and repeated requests, and the seeds differ
    only in the files asked about. The skew is a choice, not a measured
    traffic mix."""
    order = list(range(len(files)))
    random.Random(seed * 104729 + 3).shuffle(order)
    weights = [1.0 / (r + 1) ** 1.1 for r in range(len(files))]
    ranks = random.Random(0).choices(range(len(files)), weights=weights, k=n)
    out = []
    for i in (order[r] for r in ranks):
        f = files[i]
        cls, methods = f.classes[0]
        out.append({"file": f.path, "method": f.method(methods[0]),
                    "method_fqn": f._fqn(f"{cls}.{f.method(methods[0])}"),
                    # the class-name prefix of one file: matches that file's
                    # classes and methods only
                    "term": f"C{i}_"})
    return out


def main():
    import argparse
    ap = argparse.ArgumentParser()
    ap.add_argument("--tree-seed", type=int, required=True)
    ap.add_argument("--files", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--write-tree", action="store_true")
    ap.add_argument("--seed", type=int, default=0, help="seeds edits and queries")
    ap.add_argument("--edits", type=int, default=0)
    ap.add_argument("--queries", type=int, default=0)
    a = ap.parse_args()
    files = plan(a.tree_seed, a.files)
    os.makedirs(a.out, exist_ok=True)
    if a.write_tree:
        write_tree(os.path.join(a.out, "tree"), files)
    meta = {"census": census(files)}
    if a.queries:
        meta["queries"] = queries(a.seed, files, a.queries)
    if a.edits:
        meta["defs"] = [[f.path, t, q] for f in files for t, q in f.definitions()]
        meta["edits"] = edit_plan(a.seed, files, a.edits)
    with open(os.path.join(a.out, "inputs.json"), "w") as fh:
        json.dump(meta, fh)


if __name__ == "__main__":
    main()
