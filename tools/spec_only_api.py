#!/usr/bin/env python3
"""List the public API under src/main/scala that no program code uses.

Run from the root of a checkout, with no arguments:

    python3 tools/spec_only_api.py

For every top-level public declaration -- a `def`, `val` or `object`
declared at the top level of a file or directly inside a top-level
object -- it counts the name's occurrences in src/main/scala with `//`
and `/* */` comments removed (so a scaladoc `[[link]]` is not a use) and
with every declaration site of that name left out. A name with no such
occurrence has no caller in the program: only the specs call it. Each is
printed as `file:line name`, followed by one summary line, and the
script exits 1 when it printed any name (0 otherwise), so it works as a
check.

Declarations that are `private`, `protected` (with or without a
qualifier), `override` or `implicit` are skipped; the `*ViaHof` /
`*Naive` reference implementations that specs compare the real
operators against are `private[graft]`, so they never show. The `main`
entry points and the objects that hold them are started by name from
the command line, and the few names in `ALLOWED` are called from
outside the program: they are counted on an allow-list, not printed.
"""
import os
import re
import sys
from collections import Counter

ROOT = os.path.join("src", "main", "scala")
SKIP_MODIFIERS = {"private", "protected", "override", "implicit"}
IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
CHAR = re.compile(r"'(\\u[0-9a-fA-F]{4}|\\.|[^\\'\n])'")

# (file stem, name) -> why a caller outside src/main needs the name
ALLOWED = {
    ("SparkEntry", "entry"):
        "the flagship query an outside caller runs to smoke-check the build",
    ("Pipeline", "fromKafka"):
        "the reference's Kafka source, for a deployment that adds the "
        "spark-sql-kafka connector jar",
    ("TableFormat", "TableFormat"):
        "perfbench compiles against it",
}


def scrub(src, keep_strings):
    """`src` with comments blanked, and string and char literals too
    unless `keep_strings`; line breaks are kept, so lines still count."""
    out = []
    i, n = 0, len(src)
    while i < n:
        if src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
        elif src.startswith("/*", i):
            depth, j = 1, i + 2  # Scala block comments nest
            while j < n and depth:
                if src.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif src.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
        elif src[i] in "\"'":
            j = (string_end if src[i] == '"' else char_end)(src, i)
            if keep_strings:
                out.append(src[i:j])
                i = j
                continue
        else:
            out.append(src[i])
            i += 1
            continue
        out.append("\n" * src.count("\n", i, j))
        i = j
    return "".join(out)


def string_end(src, i):
    """Index just past the string literal that starts at src[i]."""
    if src.startswith('"""', i):
        j = src.find('"""', i + 3)
        if j < 0:
            return len(src)
        j += 3
        while j < len(src) and src[j] == '"':  # """ closes at the last quote
            j += 1
        return j
    j = i + 1
    while j < len(src) and src[j] not in '"\n':
        j += 2 if src[j] == "\\" else 1
    return min(j + 1, len(src))


def char_end(src, i):
    """Index just past a char literal at src[i], or i + 1 if there is none."""
    m = CHAR.match(src, i)
    return m.end() if m else i + 1


DECL = re.compile(
    r"(?P<mods>(?:\b(?:private|protected)(?:\[[^\]]*\])?\s+"
    r"|\b(?:override|implicit|final|lazy|case|sealed|abstract)\s+)*)"
    r"\b(?P<kw>def|val|var|object|class|trait|type)\s+"
    r"(?P<name>[A-Za-z_][A-Za-z0-9_]*)")


def declarations(code):
    """(name, keyword, line, brace depth, public) for each declaration."""
    depth_at, depth = [], 0
    for ch in code:
        depth_at.append(depth)
        depth += (ch == "{") - (ch == "}")
    if depth != 0:
        print(f"[spec_only_api] unbalanced braces (depth {depth})",
              file=sys.stderr)
    found = []
    for m in DECL.finditer(code):
        mods = set(re.findall(r"[a-z]+", re.sub(r"\[[^\]]*\]", "",
                                                 m.group("mods"))))
        found.append((m.group("name"), m.group("kw"),
                      code.count("\n", 0, m.start("kw")) + 1,
                      depth_at[m.start("kw")], not (mods & SKIP_MODIFIERS)))
    return found


def main():
    files = []
    for base, _, names in os.walk(ROOT):
        files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    files.sort()
    sources = {f: open(f, encoding="utf-8").read() for f in files}
    texts = {f: scrub(src, keep_strings=True) for f, src in sources.items()}
    decls = {f: declarations(scrub(src, keep_strings=False))
             for f, src in sources.items()}

    occurrences = Counter(m.group(0) for text in texts.values()
                          for m in IDENT.finditer(text))
    decl_sites = Counter(name for found in decls.values()
                         for name, *_ in found)

    def allowed(name, kw, f):
        stem = os.path.splitext(os.path.basename(f))[0]
        return name == "main" or (stem, name) in ALLOWED or (
            kw == "object" and any(n == "main" and k == "def"
                                   for n, k, *_ in decls[f]))

    printed = allowed_count = 0
    for f in files:
        for name, kw, line, depth, public in decls[f]:
            if not (public and depth <= 1 and kw in ("def", "val", "object")):
                continue
            if occurrences[name] > decl_sites[name]:
                continue
            if allowed(name, kw, f):
                allowed_count += 1
            else:
                printed += 1
                print(f"{f}:{line} {name}")
    print(f"# {printed} spec-only names; {allowed_count} allow-listed "
          "(main entry points and ALLOWED)")
    return 1 if printed else 0


if __name__ == "__main__":
    sys.exit(main())
