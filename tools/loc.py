#!/usr/bin/env python3
"""Count the lines of the engine's Scala sources.

Prints two numbers: the code lines of src/main/**/*.scala (lines that
hold something other than whitespace once `//` and `/* */` comments are
removed) and all lines of the same files, blank and comment lines
included. String literals are skipped while scanning, so a `//` inside
"file://..." is not a comment.

With `--spec-only` it instead lists the src/main members (def, val,
var, object, class, trait; `override` and `implicit` ones excluded)
whose name appears in src/test but nowhere else in src/main or in
perfbench/harness, comments ignored: library surface that only specs
reach. Members of a file holding a `def main` and of SparkEntry (the
driver's entry object) are entry points and are not listed. The listing
is advisory and always exits 0: each member on it is either a reference
twin or fixture entry point that a spec compares running code against,
or dead weight to delete.

    python3 tools/loc.py                        # the repo this script lives in
    python3 tools/loc.py <repo>                 # another checkout
    python3 tools/loc.py --spec-only [<repo>]   # spec-only members, file:line name
"""
import collections
import pathlib
import re
import sys


def strip_comments(text):
    """`text` with `//` and (nestable) `/* */` comments removed; the
    newlines inside block comments are kept, so line numbers hold."""
    out, i, depth, in_str = [], 0, 0, None
    while i < len(text):
        c = text[i]
        if depth:  # inside a (nestable) block comment
            if c == "\n":
                out.append(c)
                i += 1
            elif text.startswith("/*", i):
                depth, i = depth + 1, i + 2
            elif text.startswith("*/", i):
                depth, i = depth - 1, i + 2
            else:
                i += 1
        elif in_str:
            if in_str == '"' and c == "\\":
                out.append(text[i:i + 2])
                i += 2
            elif in_str == '"""' and text.startswith('"""', i):
                # a run of 4+ quotes closes on its last three
                j = i
                while text.startswith('""""', j):
                    j += 1
                out.append(text[i:j + 3])
                i, in_str = j + 3, None
            elif text.startswith(in_str, i):
                out.append(in_str)
                i, in_str = i + len(in_str), None
            else:
                out.append(c)
                i += 1
        elif text.startswith("//", i):
            j = text.find("\n", i)
            i = len(text) if j < 0 else j
        elif text.startswith("/*", i):
            depth, i = 1, i + 2
        elif text.startswith('"""', i):
            out.append('"""')
            in_str, i = '"""', i + 3
        elif c == '"':
            out.append(c)
            in_str, i = '"', i + 1
        elif c == "'" and i + 2 < len(text) and (
                text[i + 2] == "'" or text[i + 1] == "\\"):
            # a char literal ('"', '\\', '/'): step over it whole
            j = text.find("'", i + 3) if text[i + 1] == "\\" else i + 2
            out.append(text[i:j + 1])
            i = j + 1
        else:
            out.append(c)
            i += 1
    return "".join(out)


def code_lines(text):
    """Lines of `text` with non-blank content outside comments."""
    return sum(1 for line in strip_comments(text).split("\n") if line.strip())


DEFINITION = re.compile(r"\b(?:def|val|var|object|class|trait)\s+([A-Za-z_]\w*)")
IDENT = re.compile(r"[A-Za-z_]\w*")


def sources(root, tree):
    """(path, comment-stripped text) of every Scala file under `tree`."""
    return [(f, strip_comments(f.read_text(encoding="utf-8")))
            for f in sorted((root / tree).rglob("*.scala"))]


def spec_only(root):
    """`file:line name` of each src/main member only src/test names."""
    main = sources(root, "src/main")
    uses = collections.Counter(n for _, text in main + sources(root, "perfbench/harness")
                               for n in IDENT.findall(text))
    tested = {n for _, text in sources(root, "src/test") for n in IDENT.findall(text)}
    defs = []
    for f, text in main:
        entry = f.name == "SparkEntry.scala" or re.search(r"\bdef main\(", text)
        for m in DEFINITION.finditer(text):
            mods = text[text.rfind("\n", 0, m.start()) + 1:m.start()]
            if not (entry or "override" in mods or "implicit" in mods):
                defs.append((f, text.count("\n", 0, m.start()) + 1, m.group(1)))
    n_defs = collections.Counter(name for _, _, name in defs)
    return [f"{f.relative_to(root)}:{line} {name}" for f, line, name in defs
            if name in tested and uses[name] == n_defs[name]]


def main():
    args = sys.argv[1:]
    listing = "--spec-only" in args
    args = [a for a in args if a != "--spec-only"]
    root = pathlib.Path(args[0] if args
                        else pathlib.Path(__file__).resolve().parent.parent)
    if listing:
        for row in spec_only(root):
            print(row)
        return
    code = total = 0
    for f in sorted((root / "src" / "main").rglob("*.scala")):
        text = f.read_text(encoding="utf-8")
        code += code_lines(text)
        total += len(text.splitlines())
    print(code, total)


if __name__ == "__main__":
    main()
