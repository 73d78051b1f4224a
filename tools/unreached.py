#!/usr/bin/env python3
"""List the Scala definitions in src/main that no entry point reaches.

Usage (from anywhere): python3 tools/unreached.py

A `def`, `val`, `var`, `object`, `class` or `trait` declared in src/main is
reported when no reached code in src/main names it: `test-only` when
src/test names it, `unreached` otherwise (nothing names it, or only other
reported code does). References are searched in src/main and in
the benchmark harness (etlbench/harness); `//` comments, scaladoc and block
comments are not references. The search iterates to a fixed point: a
reference from inside the body of a definition that is already reported
does not count, so code reached only from dead code is reported too.

Names are matched as whole words, so definitions that share a name (`apply`,
`run`) reach each other and the list is a lower bound. Objects with a
`def main` are the entry points, and `override` and `implicit` members are
called without their name being written; none of these is reported. A
body's extent is read from indentation: it ends at the first later code
line indented no deeper than the definition (a closing bracket at the same
depth still belongs to it).

Exit status: 0 when nothing is reported, 1 otherwise.
"""
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
MAIN_DIRS = [ROOT / "src" / "main", ROOT / "etlbench" / "harness" / "src"]
TEST_DIRS = [ROOT / "src" / "test"]

DEF_RE = re.compile(
    r"^(\s*)((?:(?:private|protected)(?:\[\w+\])?|final|implicit|lazy|"
    r"override|sealed|abstract|case)\s+)*"
    r"(def|val|var|object|class|trait)\s+([A-Za-z_][A-Za-z0-9_]*)")
WORD_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def strip_comments(text):
    """The file's lines with comments blanked out; strings are kept."""
    out, cur = [], []
    state, depth, i, n = "code", 0, 0, len(text)
    while i < n:
        c = text[i]
        if c == "\n":
            out.append("".join(cur))
            cur = []
            if state == "line":
                state = "code"
            i += 1
            continue
        if state == "code":
            if text.startswith("//", i):
                state = "line"
                i += 2
            elif text.startswith("/*", i):
                state, depth = "block", 1
                i += 2
            elif text.startswith('"""', i):
                state = "triple"
                cur.append('"""')
                i += 3
            elif c == '"':
                state = "string"
                cur.append(c)
                i += 1
            elif c == "'" and i + 2 < n and text[i + 2] == "'":
                cur.append(text[i:i + 3])
                i += 3
            elif c == "'" and text.startswith("\\", i + 1) and \
                    i + 3 < n and text[i + 3] == "'":
                cur.append(text[i:i + 4])
                i += 4
            else:
                cur.append(c)
                i += 1
        elif state == "line":
            i += 1
        elif state == "block":
            if text.startswith("/*", i):
                depth += 1
                i += 2
            elif text.startswith("*/", i):
                depth -= 1
                i += 2
                if depth == 0:
                    state = "code"
            else:
                i += 1
        elif state == "triple":
            if text.startswith('"""', i):
                state = "code"
                cur.append('"""')
                i += 3
            else:
                cur.append(c)
                i += 1
        else:  # string
            if c == "\\" and i + 1 < n and text[i + 1] != "\n":
                cur.append(text[i:i + 2])
                i += 2
            else:
                if c == '"':
                    state = "code"
                cur.append(c)
                i += 1
    out.append("".join(cur))
    return out


def load(dirs):
    files = {}
    for d in dirs:
        for p in sorted(d.rglob("*.scala")):
            files[p.relative_to(ROOT).as_posix()] = strip_comments(
                p.read_text(encoding="utf-8"))
    return files


def indent(line):
    return len(line) - len(line.lstrip())


def definitions(files):
    """(file, name, kind, first line, last line) of every definition."""
    defs = []
    for f, lines in files.items():
        for i, line in enumerate(lines):
            m = DEF_RE.match(line)
            if not m:
                continue
            mods = m.group(2) or ""
            if "override" in mods or "implicit" in mods:
                continue
            ind, end = len(m.group(1)), i
            for j in range(i + 1, len(lines)):
                s = lines[j].strip()
                if not s:
                    continue
                if indent(lines[j]) > ind:
                    end = j
                    continue
                if indent(lines[j]) == ind and s[0] in "})]":
                    end = j
                break
            defs.append((f, m.group(4), m.group(3), i, end))
    return defs


def references(files):
    """name -> [(file, line)] of every word occurrence."""
    refs = {}
    for f, lines in files.items():
        for i, line in enumerate(lines):
            for w in WORD_RE.findall(line):
                refs.setdefault(w, []).append((f, i))
    return refs


def main():
    main_files = load(MAIN_DIRS)
    test_files = load(TEST_DIRS)
    defs = [d for d in definitions(main_files)
            if d[0].startswith("src/main/")]
    entry = {(f, s, e) for f, name, kind, s, e in defs
             if kind == "object" and any(
                 "def main(" in ln for ln in main_files[f][s:e + 1])}
    mains = {(f, s) for f, name, kind, s, e in defs
             if name == "main" and kind == "def"}
    defs = [d for d in defs
            if (d[0], d[3], d[4]) not in entry and (d[0], d[3]) not in mains]
    main_refs = references(main_files)
    test_refs = references(test_files)

    dead = set()  # indices into defs
    while True:
        spans = {}
        for k in dead:
            f, _, _, s, e = defs[k]
            spans.setdefault(f, []).append((s, e))

        def live(f, i):
            return not any(s <= i <= e for s, e in spans.get(f, ()))

        new = set()
        for k, (f, name, kind, s, e) in enumerate(defs):
            if k in dead:
                continue
            if not any(live(rf, ri) and not (rf == f and s <= ri <= e)
                       for rf, ri in main_refs.get(name, ())):
                new.add(k)
        if not new:
            break
        dead |= new

    # a definition nested in a reported one goes with it
    outer = [k for k in dead if not any(
        j != k and defs[j][0] == defs[k][0] and
        defs[j][3] <= defs[k][3] and defs[k][4] <= defs[j][4]
        for j in dead)]
    rows = []
    for k in sorted(outer, key=lambda k: (defs[k][0], defs[k][3])):
        f, name, kind, s, e = defs[k]
        why = "test-only" if name in test_refs else "unreached"
        rows.append(f"{why:12} {f}:{s + 1}  {kind} {name}  "
                    f"({e - s + 1} lines)")
    print("\n".join(rows))
    print(f"{len(rows)} definitions unreached from src/main and "
          f"etlbench/harness")
    return 1 if rows else 0


if __name__ == "__main__":
    sys.exit(main())
