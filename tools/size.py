#!/usr/bin/env python3
"""Size of graft's library code and of its option surface.

Prints, for the Scala sources under src/main (or the root given as the
first argument):
  - raw lines;
  - code lines: lines with something outside comments (blank lines,
    `//` comments and `/* ... */` blocks, scaladoc included, do not count);
  - the distinct `spark.graft.*` conf names and `SPARK_GRAFT_*` env names
    that appear anywhere in those files, and their total;
  - every object that defines `def main(`, with the raw lines of its file:
    the harness surface that ships beside the engine.

Run from the repo root:  python3 tools/size.py [src/main]
"""
import pathlib
import re
import sys

CONF = re.compile(r"spark\.graft\.[A-Za-z.]+")
ENV = re.compile(r"SPARK_GRAFT_[A-Z0-9_]+")
OBJECT = re.compile(r"^\s*(?:private\s+|private\[\w+\]\s+)?object\s+(\w+)", re.M)
MAIN = re.compile(r"\bdef main\(")


def code_lines(text):
    """Lines holding a character outside comments. String literals are
    skipped so a `//` or `/*` inside one is not taken for a comment."""
    count, depth, i, n = 0, 0, 0, len(text)
    has_code = False
    while i < n:
        c = text[i]
        if c == "\n":
            count += has_code
            has_code = False
            i += 1
        elif depth:
            if text.startswith("/*", i):
                depth, i = depth + 1, i + 2
            elif text.startswith("*/", i):
                depth, i = depth - 1, i + 2
            else:
                i += 1
        elif text.startswith("//", i):
            i = text.find("\n", i)
            i = n if i < 0 else i
        elif text.startswith("/*", i):
            depth, i = 1, i + 2
        elif text.startswith('"""', i):
            end = text.find('"""', i + 3)
            end = n if end < 0 else end + 3
            while end < n and text[end] == '"':  # """a""""
                end += 1
            has_code = True
            count += text.count("\n", i, end)
            i = end
        elif c == '"':
            j = i + 1
            while j < n and text[j] not in '"\n':
                j += 2 if text[j] == "\\" else 1
            has_code, i = True, j + 1
        elif c == "'" and i + 2 < n and (text[i + 2] == "'" or text[i + 1] == "\\"):
            end = text.find("'", i + 2 if text[i + 1] != "\\" else i + 3)
            has_code, i = True, (n if end < 0 else end + 1)
        else:
            has_code = has_code or not c.isspace()
            i += 1
    return count + has_code


def main():
    root = pathlib.Path(sys.argv[1] if len(sys.argv) > 1 else "src/main")
    raw = code = 0
    confs, envs = set(), set()
    mains = []
    for f in sorted(root.rglob("*.scala")):
        text = f.read_text(encoding="utf-8")
        lines = text.count("\n") + (0 if text.endswith("\n") or not text else 1)
        raw += lines
        code += code_lines(text)
        for m in MAIN.finditer(text):
            owners = [o.group(1) for o in OBJECT.finditer(text, 0, m.start())]
            if owners:
                mains.append((owners[-1], f, lines))
        confs.update(m.rstrip(".") for m in CONF.findall(text))
        envs.update(ENV.findall(text))
    print(f"raw lines:  {raw}")
    print(f"code lines: {code}")
    print(f"spark.graft.* confs ({len(confs)}): {' '.join(sorted(confs))}")
    print(f"SPARK_GRAFT_* envs ({len(envs)}): {' '.join(sorted(envs))}")
    print(f"options: {len(confs) + len(envs)}")
    print(f"mains ({len(mains)}):")
    for name, f, lines in sorted(mains):
        print(f"  {name:<12} {lines:>5} lines  {f}")


if __name__ == "__main__":
    main()
