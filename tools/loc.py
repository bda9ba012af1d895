#!/usr/bin/env python3
"""Count the lines of the engine's Scala sources.

Prints two numbers: the code lines of src/main/**/*.scala (lines that
hold something other than whitespace once `//` and `/* */` comments are
removed) and all lines of the same files, blank and comment lines
included. String literals are skipped while scanning, so a `//` inside
"file://..." is not a comment.

    python3 tools/loc.py            # the repo this script lives in
    python3 tools/loc.py <repo>     # another checkout
"""
import pathlib
import sys


def code_lines(text):
    """Lines of `text` with non-blank content outside comments."""
    n, i, depth, in_str, line_has_code = 0, 0, 0, None, False
    while i < len(text):
        c = text[i]
        if c == "\n":
            n += line_has_code
            line_has_code = False
            i += 1
        elif depth:  # inside a (nestable) block comment
            if text.startswith("/*", i):
                depth, i = depth + 1, i + 2
            elif text.startswith("*/", i):
                depth, i = depth - 1, i + 2
            else:
                i += 1
        elif in_str:
            line_has_code = line_has_code or not c.isspace()
            if in_str == '"' and c == "\\":
                i += 2
            elif in_str == '"""' and text.startswith('"""', i):
                # a run of 4+ quotes closes on its last three
                while text.startswith('""""', i):
                    i += 1
                i, in_str = i + 3, None
            elif text.startswith(in_str, i):
                i, in_str = i + len(in_str), None
            else:
                i += 1
        elif text.startswith("//", i):
            j = text.find("\n", i)
            i = len(text) if j < 0 else j
        elif text.startswith("/*", i):
            depth, i = 1, i + 2
        elif text.startswith('"""', i):
            in_str, line_has_code, i = '"""', True, i + 3
        elif c == '"':
            in_str, line_has_code, i = '"', True, i + 1
        elif c == "'" and i + 2 < len(text) and (
                text[i + 2] == "'" or text[i + 1] == "\\"):
            # a char literal ('"', '\\', '/'): step over it whole
            j = text.find("'", i + 3) if text[i + 1] == "\\" else i + 2
            line_has_code, i = True, j + 1
        else:
            line_has_code = line_has_code or not c.isspace()
            i += 1
    return n + line_has_code


def main():
    root = pathlib.Path(sys.argv[1] if len(sys.argv) > 1
                        else pathlib.Path(__file__).resolve().parent.parent)
    code = total = 0
    for f in sorted((root / "src" / "main").rglob("*.scala")):
        text = f.read_text(encoding="utf-8")
        code += code_lines(text)
        total += len(text.splitlines())
    print(code, total)


if __name__ == "__main__":
    main()
