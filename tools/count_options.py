#!/usr/bin/env python3
"""List every defaulted parameter of the library and the values its
production callers pass.

    python3 tools/count_options.py > /tmp/options.tsv

Run from the root of a checkout. Definitions come from src/main/scala
outside queries/, tools/ and examples/; callers are all of
src/main/scala plus perfbench/src (tests excluded). One line per
parameter, tab-separated:

    ONE|many  <file>:<line>  <def>.<param>  <values, " | "-separated>

`<default d>` means a caller omitted the argument; a caller that
forwards its own defaulted parameter contributes what that parameter
receives; `<no call>` means no production caller. ONE marks a parameter
with a single value in use: a candidate to become a constant. The scan
is lexical: calls are matched by name (rows marked "overloaded name"
merge same-named defs), and a value read from a field or built inline
is listed as written, so read each ONE row's callers before acting.
"""
import os
import re
from collections import defaultdict

LIB = "src/main/scala"
SKIP = ("/queries/", "/tools/", "/examples/")
CALLERS = ["src/main/scala", "perfbench/src"]


def strip(src):
    """Blank out comments and string contents, keeping offsets and newlines."""
    out, i, n = [], 0, len(src)
    while i < n:
        c = src[i]
        if src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            out.append(" " * (j - i)); i = j
        elif src.startswith("/*", i):
            j = src.find("*/", i + 2)
            j = n if j < 0 else j + 2
            out.append(re.sub(r"[^\n]", " ", src[i:j])); i = j
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            out.append('"' + re.sub(r"[^\n]", "_", src[i + 1:j - 1]) + '"'); i = j
        elif c == '"':
            j = i + 1
            while j < n and src[j] != '"' and src[j] != "\n":
                j += 2 if src[j] == "\\" else 1
            out.append('"' + "_" * (j - i - 1) + '"'); i = j + 1
        elif c == "'" and i + 2 < n and (src[i + 2] == "'" or src[i + 1] == "\\"):
            j = src.find("'", i + 2 if src[i + 1] == "\\" else i + 1)
            out.append("'" + "_" * (j - i - 1) + "'"); i = j + 1
        else:
            out.append(c); i += 1
    return "".join(out)


def balanced(s, i):
    """s[i] is '(' or '['; return the index past its matching close."""
    depth = 0
    for j in range(i, len(s)):
        if s[j] in "([{":
            depth += 1
        elif s[j] in ")]}":
            depth -= 1
            if depth == 0:
                return j + 1
    return len(s)


def split_top(s):
    parts, depth, cur = [], 0, ""
    for c in s:
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        if c == "," and depth == 0:
            parts.append(cur); cur = ""
        else:
            cur += c
    if cur.strip():
        parts.append(cur)
    return [p.strip() for p in parts]


def files(root):
    for d, _, fs in os.walk(root):
        for f in sorted(fs):
            if f.endswith(".scala"):
                yield os.path.join(d, f)


raw = {p: open(p).read() for r in CALLERS for p in files(r)}
clean = {p: strip(s) for p, s in raw.items()}

# defaulted parameters of every def / class under the library dirs
defs = []  # (name, path, line, [params], {param: default})
for p in files(LIB):
    if any(s in p for s in SKIP):
        continue
    s, text = clean[p], raw[p]
    for m in re.finditer(r"\b(?:def|class)\s+([A-Za-z_]\w*)\s*", s):
        i = m.end()
        if i < len(s) and s[i] == "[":
            i = balanced(s, i)
        params, defaults = [], {}
        while i < len(s) and s[i] == "(":
            j = balanced(s, i)
            for a in split_top(text[i + 1:j - 1]):
                a = re.sub(r"^(implicit|override|private|val|var|\s)+", "", a)
                name = re.match(r"([A-Za-z_]\w*)\s*:", a)
                if not name:
                    continue
                params.append(name.group(1))
                if "=" in re.sub(r"=>", "", a):
                    defaults[name.group(1)] = a.split("=", 1)[1].strip()
            i = j
            while i < len(s) and s[i] in " \n":
                i += 1
        if defaults:
            defs.append((m.group(1), p, s.count("\n", 0, m.start()) + 1, params, defaults))

by_name = defaultdict(list)
for d in defs:
    by_name[d[0]].append(d)

# values production callers pass, named or positional; a value that is
# a defaulted parameter of the enclosing def is forwarded, and resolves
# to whatever that parameter receives
used = defaultdict(set)  # (name, param) -> values
forwards = defaultdict(set)  # (name, param) -> {(outer name, outer param)}
for p, s in clean.items():
    outer = [(m.start(), m.group(1)) for m in re.finditer(r"\bdef\s+([A-Za-z_]\w*)", s)]
    for m in re.finditer(r"(?<![\w.])(?:\w+\.)*([A-Za-z_]\w*)\s*\(", s):
        name = m.group(1)
        preceding = [n for (at, n) in outer if at < m.start()][::-1]
        if name not in by_name or re.search(r"\b(def|class)\s+$", s[:m.start()][-12:]):
            continue
        i = m.end() - 1
        j = balanced(s, i)
        args = split_top(raw[p][i + 1:j - 1])
        def record(fn, q, v):
            # the nearest enclosing def (inner helpers skipped) with v
            # as a defaulted parameter
            owner = next((n for n in preceding for d in by_name.get(n, [])
                          if d[1] == p and v in d[4]), None)
            if owner:
                forwards[(fn, q)].add((owner, v))
            else:
                used[(fn, q)].add(v)
        for (_, _, _, params, defaults) in by_name[name]:
            seen = set()
            for k, a in enumerate(args):
                nm = re.match(r"([A-Za-z_]\w*)\s*=(?!=|>)\s*(.*)", a, re.S)
                if nm and nm.group(1) in params:
                    seen.add(nm.group(1))
                    if nm.group(1) in defaults:
                        record(name, nm.group(1), " ".join(nm.group(2).split()))
                elif not nm and k < len(params) and params[k] in defaults:
                    seen.add(params[k])
                    record(name, params[k], " ".join(a.split()))
            for q in defaults:
                if q not in seen:
                    used[(name, q)].add("<default>")


def resolved(key, dv, stack=()):
    vals = {v if v != "<default>" else dv for v in used.get(key, set())}
    for fk in forwards.get(key, set()):
        if fk not in stack:
            outer_dv = next((d[4][fk[1]] for d in by_name[fk[0]] if fk[1] in d[4]), None)
            vals |= resolved(fk, outer_dv, stack + (key,))
    return vals


for name, p, line, params, defaults in defs:
    for q, dv in defaults.items():
        vals = {v if v != dv else "<default>" for v in resolved((name, q), "<default>")}
        shown = sorted(v if v != "<default>" else "<default " + dv + ">" for v in vals)
        one = len(vals) <= 1
        overload = " (overloaded name)" if len(by_name[name]) > 1 else ""
        print("%s\t%s:%d\t%s.%s%s\t%s" % (
            "ONE" if one else "many", p, line, name, q, overload,
            " | ".join(shown) if shown else "<no call>"))
