#!/usr/bin/env python3
"""List the public defs in src/main/scala that nothing outside specs reaches.

A member def (one declared directly in an object, class or trait body,
and not `private`/`protected`) is reached when perfbench/src names it,
when src/main/scala names it outside any def (an object or class body,
a `val`, such as a registry map), or when a reached def names it. The
scan follows those callers transitively, so a def whose only callers
are unreached defs is listed too, and a cycle of defs that call only
each other is listed as a whole. A name counts only where it occurs in
code: comments and string literals are ignored, apart from the `$x` and
`${...}` splices of interpolated strings, and a def's own declaration
does not name it.

Entry points are reached by definition: `override` defs (called by the
framework) and `main(args)` methods.

Matching is by bare name, so a def that shares its name with a reached
def or any other reached use is treated as reached: the scan can miss
dead code, but what it prints has no caller outside specs.

Usage (from the repository root):
    python3 tools/unreached_defs.py
Prints one `path:line Owner.name` line per def, then a count line.
"""
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAIN = os.path.join(ROOT, "src", "main", "scala")
BENCH = os.path.join(ROOT, "perfbench", "src")

IDENT = r"[A-Za-z_][A-Za-z0-9_]*"
# the keywords that start a statement or member; the last one before a
# `{` says whether that brace opens a template (object/class/trait) body
STMT_KW = re.compile(r"\b(object|class|trait|def|val|var|new|if|else|match|"
                     r"for|while|do|try|catch|finally|yield|return|type)\b")
MEMBER_KW = re.compile(r"\b(def|val|var|object|class|trait|type)\b")
TEMPLATE_KW = re.compile(r"\b(object|class|trait)\s+(" + IDENT + ")")


def scala_files(top):
    for d, _, fs in os.walk(top):
        for f in sorted(fs):
            if f.endswith(".scala"):
                yield os.path.join(d, f)


def blank(text, i, j):
    """`text[i:j]` with everything but newlines turned into spaces."""
    return re.sub(r"[^\n]", " ", text[i:j])


SPLICE = re.compile(r"\$\{[^}]*\}|\$" + IDENT)


def literal(src, i, j):
    """A string literal `src[i:j]` blanked, except for its splices when
    an interpolator (`s`, `f`, `raw`, ...) precedes it."""
    out = blank(src, i, j)
    if i > 0 and (src[i - 1].isalnum() or src[i - 1] == "_"):
        for m in SPLICE.finditer(src, i, j):
            out = out[:m.start() - i] + m.group() + out[m.end() - i:]
    return out


def strip(src):
    """Return (code, skeleton) for one file, both offset-aligned with `src`.

    `code` has comments and literals blanked, keeping the splices of
    interpolated strings; `skeleton` blanks those too, so its braces and
    keywords are structural."""
    code, skel = [], []
    i, n = 0, len(src)
    while i < n:
        c = src[i]
        if src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            code.append(blank(src, i, j)); skel.append(blank(src, i, j))
        elif src.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if src.startswith("/*", j): depth, j = depth + 1, j + 2
                elif src.startswith("*/", j): depth, j = depth - 1, j + 2
                else: j += 1
            code.append(blank(src, i, j)); skel.append(blank(src, i, j))
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':
                j += 1
            code.append(literal(src, i, j)); skel.append(blank(src, i, j))
        elif c == '"':
            j = i + 1
            while j < n and src[j] not in '"\n':
                j += 2 if src[j] == "\\" else 1
            j = min(j + 1, n)
            code.append(literal(src, i, j)); skel.append(blank(src, i, j))
        elif c == "'" and re.match(r"'(\\.[^']*|[^\\'\n])'", src[i:i + 12]):
            j = src.index("'", i + 2 if src[i + 1] == "\\" else i + 1) + 1
            code.append(blank(src, i, j)); skel.append(blank(src, i, j))
        else:
            j = i + 1
            while j < n and src[j] not in "/\"'":
                j += 1
            code.append(src[i:j]); skel.append(src[i:j])
        i = j
    return "".join(code), "".join(skel)


class Member:
    def __init__(self, path, line, owner, name, start, public, root):
        self.path, self.line, self.owner, self.name = path, line, owner, name
        self.start, self.end = start, None
        self.public, self.root = public, root


def members(path, skel):
    """Every member def of the file, with the span that runs to the next
    member of the same template (or the template's closing brace)."""
    out = []
    # stack of (is_template, owner name, members declared directly in it)
    stack = [(True, "", [])]
    last_stop = 0
    i, n = 0, len(skel)

    def close(level_members, at):
        for m in level_members:
            if m.end is None:
                m.end = at

    while i < n:
        c = skel[i]
        if c == "{":
            head = skel[last_stop:i]
            kws = STMT_KW.findall(head)
            tm = TEMPLATE_KW.findall(head)
            is_tmpl = bool(kws) and kws[-1] in ("object", "class", "trait") and tm
            stack.append((is_tmpl, tm[-1][1] if is_tmpl else None, []))
            last_stop = i + 1
            i += 1
        elif c == "}":
            if len(stack) > 1:
                close(stack.pop()[2], i)
            last_stop = i + 1
            i += 1
        elif c == ";":
            last_stop = i + 1
            i += 1
        else:
            m = MEMBER_KW.match(skel, i) if (i == 0 or not (skel[i - 1].isalnum() or skel[i - 1] == "_")) else None
            if m and stack[-1][0]:
                level = stack[-1][2]
                close(level, i)
                if m.group(1) == "def":
                    d = re.compile(r"def\s+(" + IDENT + ")").match(skel, i)
                    if d:
                        bol = skel.rfind("\n", 0, i) + 1
                        mods = skel[bol:i]
                        prev_bol = skel.rfind("\n", 0, max(bol - 1, 0)) + 1
                        prev = skel[prev_bol:bol]
                        if re.fullmatch(r"\s*(@\S+\s*|private\S*\s*|protected\S*\s*|"
                                        r"override\s*|final\s*|implicit\s*)+", prev or "x"):
                            mods = prev + mods
                        public = not re.search(r"\b(private|protected)\b(?!\[)", mods)
                        name = d.group(1)
                        after = skel[d.end():d.end() + 40]
                        root = ("override" in mods or
                                (name == "main" and after.lstrip().startswith("(args")))
                        owner = ".".join(s[1] for s in stack if s[0] and s[1])
                        mem = Member(path, skel.count("\n", 0, i) + 1, owner, name,
                                     i, public, root)
                        out.append(mem)
                        level.append(mem)
                        i = d.end()
                        continue
                else:
                    level.append(Member(path, 0, "", "", i, False, True))
                i = m.end()
            else:
                i += 1
    for level in stack:
        close(level[2], n)
    return [m for m in out if m.name]


def main():
    files = {}
    for p in scala_files(MAIN):
        with open(p, encoding="utf-8") as f:
            code, skel = strip(f.read())
        files[p] = (code, members(p, skel))
    bench = ""
    for p in scala_files(BENCH):
        with open(p, encoding="utf-8") as f:
            bench += strip(f.read())[0] + "\n"

    by_name = {}
    for _, ms in files.values():
        for m in ms:
            by_name.setdefault(m.name, []).append(m)
    # edges: the defs each def's body names; roots: names used outside
    # any def (object and class bodies, vals) or by perfbench/src
    calls = {}
    live = [m for ms in by_name.values() for m in ms if m.root]
    word = re.compile(IDENT)
    for code, ms in files.values():
        decls = {m.start for m in ms}
        spans = sorted(ms, key=lambda m: m.start)
        for w in word.finditer(code):
            name = w.group()
            if name not in by_name or code.rfind("def", 0, w.start()) in decls \
                    and not code[code.rfind("def", 0, w.start()) + 3:w.start()].strip():
                continue
            encl = None
            for m in spans:
                if m.start > w.start():
                    break
                if w.start() < m.end:
                    encl = m
            if encl is None:
                live.extend(by_name[name])
            else:
                calls.setdefault(id(encl), []).extend(
                    t for t in by_name[name] if t is not encl)
    for name in by_name:
        if re.search(r"\b" + name + r"\b", bench):
            live.extend(by_name[name])

    reached = set()
    while live:
        m = live.pop()
        if id(m) not in reached:
            reached.add(id(m))
            live.extend(calls.get(id(m), ()))

    listed = sorted((m for ms in by_name.values() for m in ms
                     if m.public and id(m) not in reached),
                    key=lambda m: (m.path, m.line))
    for m in listed:
        rel = os.path.relpath(m.path, ROOT)
        print(f"{rel}:{m.line} {m.owner + '.' if m.owner else ''}{m.name}")
    print(f"{len(listed)} unreached public defs")


if __name__ == "__main__":
    main()
