#!/usr/bin/env python3
"""List the src/main definitions that nothing in the program calls.

A name-token scan, not a compiler pass: every `def`, `val`, `var`,
`object`, `class`, `trait` and `type` declared under src/main is
unreached when its name occurs, outside comments, nowhere in src/main or
perfbench/src except at its own declarations. `override` members and
the names a framework calls by contract (`main`, `apply`, the Spark
`Aggregator` callbacks) are skipped. Because it matches bare tokens it
under-reports: a name shared with any other identifier counts as called.

The result is compared with tools/unreached_defs_allow.txt, where each
kept unreached definition is listed with its reason. The script exits
non-zero if the scan finds a name the list lacks. A listed name the scan
no longer finds (it gained a caller or is gone) is reported as stale but
does not fail the run. UnreachedDefsSpec runs it as part of `sbt test`.

Usage: python3 tools/unreached_defs.py [--list]
  --list   print every unreached definition with its location, then exit 0
"""
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DECL_DIRS = ["src/main/scala"]
CALLER_DIRS = ["src/main/scala", "perfbench/src"]
ALLOW = os.path.join(ROOT, "tools", "unreached_defs_allow.txt")
REASONS = ("entry:", "reference:", "test:", "d3:")
# called by the JVM or by Spark through an interface, not by name
CONTRACT = {
    "main", "apply", "unapply", "zero", "reduce", "merge", "finish",
    "bufferEncoder", "outputEncoder",
}

DECL = re.compile(
    r"^[ \t]*(?P<mods>(?:(?:private(?:\[\w+\])?|protected(?:\[\w+\])?|"
    r"override|final|implicit|lazy|case|sealed|abstract|@\w+(?:\([^)]*\))?)\s+)*)"
    r"(?:def|val|var|object|class|trait|type)\s+(?P<name>[A-Za-z_][A-Za-z0-9_]*)",
    re.M)
TOKEN = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
COMMENT = re.compile(r"//[^\n]*|/\*.*?\*/", re.S)
STRING = re.compile(r'"""(?:.|\n)*?"""|"(?:\\.|[^"\\\n])*"')


def scala_files(dirs):
    for d in dirs:
        for base, _, names in os.walk(os.path.join(ROOT, d)):
            for n in sorted(names):
                if n.endswith(".scala"):
                    yield os.path.join(base, n)


def strip_comments(src):
    # blank out comments but keep string literals (a `//` inside one is
    # not a comment) and every newline (declaration line numbers)
    out, pos = [], 0
    for m in re.finditer(STRING.pattern + "|" + COMMENT.pattern, src, re.S):
        out.append(src[pos:m.start()])
        text = m.group(0)
        out.append(text if text.startswith('"') else
                   re.sub(r"[^\n]", " ", text))
        pos = m.end()
    out.append(src[pos:])
    return "".join(out)


def scan():
    uses = {}
    decls = {}  # name -> [(key, relpath, line)]
    for path in scala_files(CALLER_DIRS):
        with open(path, encoding="utf-8") as f:
            code = strip_comments(f.read())
        for t in TOKEN.findall(code):
            uses[t] = uses.get(t, 0) + 1
        if not any(path.startswith(os.path.join(ROOT, d)) for d in DECL_DIRS):
            continue
        rel = os.path.relpath(path, ROOT)
        stem = os.path.splitext(os.path.basename(path))[0]
        for m in DECL.finditer(code):
            if "override" in m.group("mods") or m.group("name") in CONTRACT:
                continue
            line = code.count("\n", 0, m.start("name")) + 1
            decls.setdefault(m.group("name"), []).append(
                (f"{stem}.{m.group('name')}", rel, line))
    return {key: (rel, line)
            for name, ds in decls.items() if uses.get(name, 0) <= len(ds)
            for key, rel, line in ds}


def read_allow():
    allow = {}
    with open(ALLOW, encoding="utf-8") as f:
        for n, raw in enumerate(f, 1):
            line = raw.strip()
            if not line or line.startswith("#"):
                continue
            key, _, reason = line.partition(" ")
            reason = reason.strip()
            if not reason.startswith(REASONS):
                sys.exit(f"{ALLOW}:{n}: reason must start with one of "
                         f"{', '.join(REASONS)}: {line}")
            allow[key] = reason
    return allow


def main():
    found = scan()
    if "--list" in sys.argv[1:]:
        for key, (rel, line) in sorted(found.items()):
            print(f"{rel}:{line}\t{key}")
        return 0
    allow = read_allow()
    new = sorted(set(found) - set(allow))
    stale = sorted(set(allow) - set(found))
    for key in new:
        rel, line = found[key]
        print(f"unreached, not in the allowlist: {key} ({rel}:{line})")
    for key in stale:
        print(f"allowlisted but no longer unreached: {key}")
    print(f"== {len(found)} unreached, {len(allow)} allowlisted, "
          f"{len(new)} new, {len(stale)} stale ==")
    return 1 if new else 0


if __name__ == "__main__":
    sys.exit(main())
