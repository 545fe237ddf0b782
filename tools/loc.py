#!/usr/bin/env python3
"""Line counts of the ``frafka_spark/`` package, per module and in total.

Usage (from the root of a checkout)::

    python3 tools/loc.py                 # the working tree
    python3 tools/loc.py --rev HEAD~1    # the committed files of a revision
    python3 tools/loc.py --only sources/manifest_table.py

Each line of a module falls in exactly one class:

- ``doc``: inside a module, class or function docstring (found with
  ``ast``: the line span of the leading string statement);
- ``comment``: a line whose only token is a ``#`` comment;
- ``blank``: an empty or whitespace-only line outside a docstring;
- ``code``: every other line.

``total = doc + comment + blank + code``. A size claim for a change
compares ``code`` before and after, which reformatting a docstring or
deleting a comment does not move.
"""

from __future__ import annotations

import argparse
import ast
import io
import subprocess
import sys
import tokenize
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "frafka_spark"


def docstring_lines(tree: ast.AST) -> set[int]:
    """1-based line numbers spanned by module/class/function docstrings."""
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        ):
            continue
        body = getattr(node, "body", None)
        if (
            body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def comment_lines(src: str) -> set[int]:
    """Lines holding a comment and no other token."""
    other: set[int] = set()
    comments: set[int] = set()
    skip = {
        tokenize.NL, tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT,
        tokenize.ENDMARKER, tokenize.ENCODING,
    }
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type == tokenize.COMMENT:
            comments.add(tok.start[0])
        elif tok.type not in skip:
            other.update(range(tok.start[0], tok.end[0] + 1))
    return comments - other


def count(src: str) -> dict[str, int]:
    lines = src.splitlines()
    doc = docstring_lines(ast.parse(src))
    comments = comment_lines(src) - doc
    blank = {
        i for i, line in enumerate(lines, 1)
        if not line.strip() and i not in doc
    }
    out = {
        "total": len(lines),
        "doc": len(doc),
        "comment": len(comments),
        "blank": len(blank),
    }
    out["code"] = out["total"] - out["doc"] - out["comment"] - out["blank"]
    return out


def sources(rev: str | None) -> dict[str, str]:
    """``{path relative to the package: source}`` for every module."""
    if rev is None:
        base = ROOT / PKG
        return {
            str(p.relative_to(base)): p.read_text()
            for p in sorted(base.rglob("*.py"))
        }
    names = subprocess.run(
        ["git", "ls-tree", "-r", "--name-only", rev, PKG + "/"],
        cwd=ROOT, check=True, capture_output=True, text=True,
    ).stdout.split()
    return {
        n[len(PKG) + 1:]: subprocess.run(
            ["git", "show", f"{rev}:{n}"],
            cwd=ROOT, check=True, capture_output=True, text=True,
        ).stdout
        for n in sorted(names)
        if n.endswith(".py")
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--rev", help="measure this git revision, not the tree")
    ap.add_argument("--only", action="append", default=[],
                    help="print only these modules (the total stays whole)")
    args = ap.parse_args()

    per = {name: count(src) for name, src in sources(args.rev).items()}
    keys = ("total", "doc", "comment", "blank", "code")
    total = {k: sum(c[k] for c in per.values()) for k in keys}
    shown = [n for n in per if not args.only or n in args.only]
    width = max([len(n) for n in shown] + [len(PKG)])
    print(f"{'module':<{width}} " + " ".join(f"{k:>8}" for k in keys))
    for name in shown:
        print(f"{name:<{width}} " + " ".join(f"{per[name][k]:>8}" for k in keys))
    print(f"{PKG:<{width}} " + " ".join(f"{total[k]:>8}" for k in keys))
    return 0


if __name__ == "__main__":
    sys.exit(main())
