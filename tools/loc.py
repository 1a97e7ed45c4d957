#!/usr/bin/env python3
"""Size of the Scala sources under src/main, at a base revision and in the
working tree.

    python3 tools/loc.py <base-rev>

For each side it prints one line of JSON:
  - lines: total lines of the .scala files under src/main;
  - code_lines: lines that are neither blank nor comment-only (`//` lines
    and the lines of `/* ... */` / `/** ... */` blocks);
  - expressions: class/object definitions that extend a Catalyst
    expression base (Expression, UnaryExpression, BinaryExpression, ...);
  - raw_local_checkpoints: `localCheckpoint(` call sites outside comments
    and outside Reuse.scala, the one helper that may call it, with the
    number of files that hold them;
  - materialize_sites: `Reuse.materialize(` call sites outside comments;
  - udfs: `udf(...)` and `udf { ... }` definitions outside comments
    (the boxed per-row converters a compiled kernel or a built-in
    replaces).

The base revision is read with `git show`; nothing is written anywhere.
"""
import json
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = "src/main"

# Catalyst bases a custom expression extends (org.apache.spark.sql.catalyst.expressions)
EXPR_BASES = re.compile(
    r"\b(?:Expression|LeafExpression|UnaryExpression|BinaryExpression|"
    r"TernaryExpression|QuaternaryExpression|SeptenaryExpression|"
    r"BinaryOperator|UnaryMathExpression|BinaryMathExpression)\b")
DEF_HEAD = re.compile(r"\b(?:class|object)\s+\w+[^{=]*?\bextends\b([^{=]*)", re.S)
UDF_DEF = re.compile(r"\budf\s*[({]")


def code_only(text):
    """`text` with comments blanked out (string literals are kept), and the
    number of lines that still hold code."""
    out, i, n = [], 0, len(text)
    in_str = False
    while i < n:
        c = text[i]
        if in_str:
            out.append(c)
            if c == "\\" and i + 1 < n:
                out.append(text[i + 1])
                i += 2
                continue
            if c == '"' or c == "\n":
                in_str = False
            i += 1
        elif text.startswith('"""', i):
            j = text.find('"""', i + 3)
            j = n if j < 0 else j + 3
            out.append(text[i:j])
            i = j
        elif c == '"':
            in_str = True
            out.append(c)
            i += 1
        elif text.startswith("//", i):
            j = text.find("\n", i)
            i = n if j < 0 else j
        elif text.startswith("/*", i):
            j = text.find("*/", i + 2)
            j = n if j < 0 else j + 2
            out.append("\n" * text.count("\n", i, j))
            i = j
        else:
            out.append(c)
            i += 1
    code = "".join(out)
    return code, sum(1 for line in code.split("\n") if line.strip())


def measure(files):
    """files: [(path, text)] → the metrics of the module docstring."""
    lines = code_lines = expressions = checkpoints = materializes = udfs = 0
    checkpoint_files = set()
    for path, text in files:
        lines += text.count("\n") + (0 if text.endswith("\n") or not text else 1)
        code, n_code = code_only(text)
        code_lines += n_code
        expressions += sum(1 for m in DEF_HEAD.finditer(code)
                           if EXPR_BASES.search(m.group(1)))
        udfs += len(UDF_DEF.findall(code))
        materializes += code.count("Reuse.materialize(")
        k = 0 if os.path.basename(path) == "Reuse.scala" else code.count("localCheckpoint(")
        if k:
            checkpoints += k
            checkpoint_files.add(path)
    return {"lines": lines, "code_lines": code_lines, "expressions": expressions,
            "raw_local_checkpoints": checkpoints,
            "raw_local_checkpoint_files": len(checkpoint_files),
            "materialize_sites": materializes, "udfs": udfs}


def git(*args):
    return subprocess.run(["git", "-C", ROOT, *args], check=True,
                          capture_output=True).stdout.decode("utf-8")


def base_files(rev):
    paths = git("ls-tree", "-r", "--name-only", rev, "--", SRC).split("\n")
    return [(p, git("show", f"{rev}:{p}")) for p in paths if p.endswith(".scala")]


def tree_files():
    out = []
    for d, _, names in os.walk(os.path.join(ROOT, SRC)):
        for name in sorted(names):
            if name.endswith(".scala"):
                p = os.path.join(d, name)
                with open(p, encoding="utf-8") as f:
                    out.append((os.path.relpath(p, ROOT), f.read()))
    return out


def main():
    if len(sys.argv) != 2:
        sys.exit("usage: tools/loc.py <base-rev>")
    base = measure(base_files(sys.argv[1]))
    tree = measure(tree_files())
    print(json.dumps({"side": sys.argv[1], **base}))
    print(json.dumps({"side": "working-tree", **tree}))
    print(json.dumps({"side": "delta", **{k: tree[k] - base[k] for k in tree}}))


if __name__ == "__main__":
    main()
