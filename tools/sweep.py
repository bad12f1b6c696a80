#!/usr/bin/env python3
"""Dead-surface sweeps over the engine sources: `src/main/scala` and
`pipebench/src`, with comments and string-literal text stripped first, so a
name that appears only in a comment or a message is not counted as a use.
Tests are not callers.

Two scans:

  calls      per top-level `object O` in src/main/scala, each member
             `def`/`val` whose qualified name (`O.d`, `import ….O.{…, d}`,
             `import ….O._`, `O(…)` for `apply`) appears in no other file
             and whose bare name appears only once in its own file.
  never-set  each defaulted parameter of a `def` or class constructor that
             no call site passes, by position or by name.

Usage: python3 tools/sweep.py [--all]

Prints each finding, marked `allowed` (with the reason) or `FINDING`, then a
count per scan. `--all` also prints the allowed findings, which are hidden
by default. Exits 1 if any finding is not on the allow-list.
"""
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAIN = "src/main/scala"
DIRS = (MAIN, "pipebench/src")

# finding -> why it stays. A key ending in `.*` allows every member of an
# object; a parameter key is `Owner.def(param)`.
ALLOW = {
    # entry points: called by the JVM, the CLI or the query harness
    "SparkEntry.entry": "query-harness entry point",
    "Verify": "JVM entry point: the query results and oracle SQL dump",
    "*.main": "JVM entry point",
    # codegen helpers: called from Java source that Spark's expression
    # codegen emits as text, which no Scala caller names
    "ShingleUtil.*": "called from generated code",
    "Md5NibblesUtil.*": "called from generated code",
    "TokenCountUtil.*": "called from generated code",
    "DensifyUtil.*": "called from generated code",
    "ChunkDecodeUtil.*": "called from generated code",
    "ZorderUtil.*": "called from generated code",
    "WinnowUtil.*": "called from generated code",
    "DotProductUtil.*": "called from generated code",
    "TokenArrayUtil.*": "called from generated code",
    # references that specs and the benchmark check the engine against
    "Cwt.scaleogram": "analytic-spectrum reference for the pywt-algorithm CWT (CwtSpec)",
    "Transcripts.generateLocal": "driver-side transcripts for the golden and reference specs",
    "Ref.*": "single-node oracle of the paper pipeline",
    # read side of a format the engine writes; specs check writes through it
    "TableFormat.snapshots": "reader of the _snapshots commit log",
    # library API without an engine caller, spec-gated against hand values
    "TextRank.bm25": "Okapi BM25 for API users (OpsSpec hand-computed score)",
    # called by the frozen benchmark until ROADMAP item 4 deletes it
    "Correlate.ccPairs": "pipebench calls ccPairs; ROADMAP item 4 deletes it",
    # the benchmark's own code changes only with the benchmark
    "Span": "pipebench tracer, frozen with the benchmark",
    # options a spec sets to check the behaviour each one selects
    "Dedup.corpusOverlap(exact)": "spec pins the exact and the sketched path",
    "Retrieval.termOverlapTopN(excludeSelf)": "spec pins self-exclusion",
    "Funnel.orderedFunnel(maxTimesPerStep)": "spec pins the per-step cap",
    "AsofJoin.leftAsofBucketed(toleranceSec)": "spec pins the bucketed tolerance",
    "LangId.classify(prof)": "spec passes its own profile",
    # shape parameters of the PQ/LSH index: `dim` should come from the
    # input, which is a separate change
    "Similarity.*": "PQ/LSH shape parameters",
}


def sources():
    """Relative path -> stripped text of every Scala file under DIRS."""
    out = {}
    for d in DIRS:
        for base, _, names in os.walk(os.path.join(ROOT, d)):
            for n in sorted(names):
                if n.endswith(".scala"):
                    p = os.path.join(base, n)
                    with open(p, encoding="utf-8") as f:
                        out[os.path.relpath(p, ROOT)] = strip(f.read())
    return out


# ---- lexing: comments and string text out, line breaks and `${…}` kept --

def _blank(s):
    return "".join(c if c == "\n" else " " for c in s)


def strip(src):
    text, _ = _code(src, 0, False)
    return text


def _code(s, i, interp):
    """Code from `i`; in an interpolation, up to its closing brace."""
    out, n, depth = [], len(s), 0
    while i < n:
        c = s[i]
        if s.startswith("//", i):
            j = s.find("\n", i)
            j = n if j < 0 else j
            out.append(" " * (j - i))
            i = j
        elif s.startswith("/*", i):
            d, j = 1, i + 2
            while j < n and d:
                if s.startswith("/*", j):
                    d, j = d + 1, j + 2
                elif s.startswith("*/", j):
                    d, j = d - 1, j + 2
                else:
                    j += 1
            out.append(_blank(s[i:j]))
            i = j
        elif c == '"':
            interp_str = i > 0 and (s[i - 1].isalnum() or s[i - 1] == "_")
            text, i = _string(s, i, interp_str)
            out.append(text)
        elif c == "'" and i + 2 < n and s[i + 1] != "\\" and s[i + 2] == "'":
            out.append("' '")
            i += 3
        elif c == "'" and s.startswith("'\\", i):
            j = s.find("'", i + 2)
            j = n - 1 if j < 0 else j
            out.append("'" + " " * (j - i - 1) + "'")
            i = j + 1
        else:
            if interp:
                if c == "{":
                    depth += 1
                elif c == "}":
                    if depth == 0:
                        return "".join(out), i
                    depth -= 1
            out.append(c)
            i += 1
    return "".join(out), i


def _string(s, i, interp):
    triple = s.startswith('"""', i)
    q = '"""' if triple else '"'
    out, n = [q], len(s)
    i += len(q)
    while i < n:
        if triple and s.startswith('"""', i):
            while s.startswith('""""', i):  # quotes just before the closer
                out.append(" ")
                i += 1
            out.append(q)
            return "".join(out), i + 3
        c = s[i]
        if not triple and c == "\\" and i + 1 < n:
            out.append("  ")
            i += 2
        elif not triple and c == '"':
            out.append(q)
            return "".join(out), i + 1
        elif interp and s.startswith("$$", i):
            out.append("  ")
            i += 2
        elif interp and s.startswith("${", i):
            code, j = _code(s, i + 2, True)
            out.append("${" + code + "}")
            i = j + 1
        elif interp and c == "$" and i + 1 < n and (s[i + 1].isalpha() or s[i + 1] == "_"):
            m = re.compile(r"\$[A-Za-z_]\w*").match(s, i)
            out.append(m.group(0))
            i = m.end()
        else:
            out.append("\n" if c == "\n" else " ")
            i += 1
    return "".join(out), i


def line_of(text, pos):
    return text.count("\n", 0, pos) + 1


# ---- calls: the qualified call-graph sweep ------------------------------

OBJ = re.compile(r"^(?:private\[\w+\] )?(?:case )?object (\w+)", re.M)
MEMBER = re.compile(r"^  (?:private\[graft\] )?(?:final )?(?:def|val|lazy val) (\w+)", re.M)


def calls(src):
    found = []
    for f in sorted(p for p in src if p.startswith(MAIN)):
        text = src[f]
        for m in OBJ.finditer(text):
            o = m.group(1)
            end = re.compile(r"^}", re.M).search(text, m.end())
            body = text[m.end():end.start() if end else len(text)]
            # the object's own file counts outside the object's body
            others = [t for p, t in src.items() if p != f] + [text[:m.start()] + text[m.end() + len(body):]]
            if not any(re.search(r"\b%s\b" % o, t) for t in others):
                found.append((f"{o}", f"{f}:{line_of(text, m.start())}", "no caller at all"))
                continue
            for d in sorted(set(MEMBER.findall(body))):
                use = re.compile(
                    r"\b%s\.%s\b|import [\w.]*\b%s\.(?:\{[^}]*\b%s\b|%s\b|_)"
                    % (o, d, o, d, d) + (r"|(?<!object )(?<!class )\b%s\s*\(" % o if d == "apply" else ""))
                if any(use.search(t) for t in others):
                    continue
                if len(re.findall(r"\b%s\b" % d, text)) <= 1:
                    found.append((f"{o}.{d}", f"{f}:{line_of(text, m.start())}", "no caller"))
    return found


# ---- never-set: defaulted parameters no call site passes ----------------

DEF = re.compile(r"\bdef (\w+)\s*(?:\[[^\]]*\])?\s*\(")
CLS = re.compile(r"\b(?:case )?class (\w+)\s*(?:\[[^\]]*\])?\s*(?:private(?:\[\w+\])?\s*)?\(")
OWNER = re.compile(r"\b(object|class|trait) (\w+)")


def scopes(text):
    """(body start, body end, name, kind) of each object, class and trait."""
    out = []
    for m in OWNER.finditer(text):
        i = m.end()
        while i < len(text):
            c = text[i]
            if c in "([":
                i = group(text, i)[1]
            elif c == "{":
                out.append((i, group(text, i)[1], m.group(2), m.group(1)))
                break
            elif text.startswith("\n\n", i) or re.compile(r"\n\s*(?:def|val|object|class|case|trait)\b").match(text, i):
                break
            else:
                i += 1
    return out


def owner_at(scps, pos):
    inner = None
    for b, e, name, kind in scps:
        if b < pos < e and (inner is None or b > inner[0]):
            inner = (b, name, kind)
    return (inner[1], inner[2]) if inner else (None, None)


def group(text, i):
    """The balanced bracket group opening at `text[i]`: (inner, end)."""
    pairs = {"(": ")", "[": "]", "{": "}"}
    stack, j = [], i
    while j < len(text):
        c = text[j]
        if c in pairs:
            stack.append(pairs[c])
        elif stack and c == stack[-1]:
            stack.pop()
            if not stack:
                return text[i + 1:j], j + 1
        j += 1
    return text[i + 1:], len(text)


def split_top(inner):
    parts, depth, cur = [], 0, []
    for c in inner:
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        if c == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(c)
    if "".join(cur).strip():
        parts.append("".join(cur))
    return parts


def default_at(param):
    """Index of the top-level `=` that starts a parameter's default, or -1."""
    depth = 0
    for k, c in enumerate(param):
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif c == "=" and depth == 0:
            nxt = param[k + 1:k + 2]
            prev = param[k - 1:k]
            if nxt not in (">", "=") and prev not in ("<", ">", "=", "!"):
                return k
    return -1


def param_lists(text, i):
    """Successive `(…)` groups from `text[i]` (at a `(`): [[param, …], …]."""
    lists = []
    while i < len(text) and text[i] == "(":
        inner, i = group(text, i)
        lists.append(split_top(inner))
        m = re.compile(r"\s*").match(text, i)
        i = m.end()
    return lists


NAMED = re.compile(r"\s*(\w+)\s*=(?![=>])")


def declarations(src):
    """Each def or class constructor with a defaulted parameter:
    (owner, kind, name, [[(param, defaulted), …] per list], file, line).
    A def's kind is its owner's (object, class or trait); a constructor's
    kind is `ctor` and its owner the class itself."""
    out = []
    for f, text in src.items():
        scps = scopes(text)
        for rx, is_cls in ((DEF, False), (CLS, True)):
            for m in rx.finditer(text):
                name = m.group(1)
                params = []
                for li in param_lists(text, m.end() - 1):
                    implicit = bool(li) and li[0].strip().startswith("implicit")
                    ps = []
                    for p in li:
                        pm = re.match(r"\s*(?:implicit\s+)?(?:(?:private|val|var|override)\s+)*(\w+)", p)
                        ps.append((pm.group(1) if pm else "?", default_at(p) >= 0 and not implicit))
                    params.append(ps)
                if any(d for li in params for _, d in li):
                    owner, kind = (name, "ctor") if is_cls else owner_at(scps, m.start())
                    out.append((owner, kind, name, params, f, line_of(text, m.start())))
    return out


def imports_members(text, owner, name):
    return re.search(r"import [\w.]*\b%s\.(?:_|\{[^}]*\b%s\b|%s\b)" % (owner, name, name), text)


def never_set(src):
    """A call site of `O.d` is `O.d(…)` anywhere or a bare `d(…)` in O's
    own file or in a file that imports it; a def of a class or trait is
    called on an instance, so any `d(…)` counts. A class is constructed
    as `C(…)` or `new C(…)`, and `.copy(f = …)` sets field `f`. A
    function reference (`O.d` not followed by an argument list) passes
    every argument."""
    found = []
    for owner, kind, name, params, f, line in declarations(src):
        passed = [set() for _ in params]  # per list: positions and names passed

        def take(lists):
            for k, args in enumerate(lists[:len(params)]):
                pos = 0
                for a in args:
                    nm = NAMED.match(a)
                    if nm:
                        passed[k].add(nm.group(1))
                    elif "_*" in a:
                        passed[k].update(range(len(params[k])))
                    else:
                        passed[k].add(pos)
                        pos += 1

        targs = r"\s*(?:\[[^\]]*\]\s*)?\("
        for g, text in src.items():
            if kind == "ctor":
                rx = r"(?<![\w])(?:new\s+)?(?:[\w.]+\.)?%s%s" % (name, targs)
            elif kind == "object" and not (g == f or imports_members(text, owner, name)):
                rx = r"\b%s\.%s%s" % (owner, name, targs)
                if name == "apply":
                    rx += r"|(?<!object )(?<!class )\b%s%s" % (owner, targs)
            else:
                rx = r"(?<![\w])%s%s" % (name, targs)
            for m in re.finditer(rx, text):
                if re.search(r"(?:def|class)\s+(?:[\w.]+\.)?$", text[max(0, m.start() - 12):m.start()]):
                    continue
                take(param_lists(text, m.end() - 1))
            if kind == "object":
                for m in re.finditer(r"\b%s\.%s\b(?!\s*[\[(])" % (owner, name), text):
                    if not re.search(r"import [\w.]*$", text[max(0, m.start() - 80):m.start()]):
                        for k in range(len(params)):
                            passed[k].update(range(len(params[k])))
            if kind == "ctor":
                for m in re.finditer(r"\.copy\(", text):
                    take([[a for a in param_lists(text, m.end() - 1)[0] if NAMED.match(a)]])
        for k, li in enumerate(params):
            for pos, (pname, defaulted) in enumerate(li):
                if defaulted and pos not in passed[k] and pname not in passed[k]:
                    key = f"{name}({pname})" if kind == "ctor" else f"{owner}.{name}({pname})"
                    found.append((key, f"{f}:{line}", "never set"))
    return found


def allowed(key):
    for k, why in ALLOW.items():
        o, _, rest = k.partition(".")
        if k == key or key.startswith(k + "("):
            return why
        if rest == "*" and (key == o or key.startswith(o + ".")):
            return why
        if o == "*" and (key.split(".", 1)[-1] == rest or key.split(".", 1)[-1].startswith(rest + "(")):
            return why
    return None


def main(argv):
    show_all = "--all" in argv
    src = sources()
    bad = 0
    for scan, found in (("calls", calls(src)), ("never-set", never_set(src))):
        n_allowed = 0
        for key, where, what in sorted(set(found)):
            why = allowed(key)
            if why:
                n_allowed += 1
                if show_all:
                    print(f"{scan}: allowed  {key} ({where}): {what}; {why}")
            else:
                bad += 1
                print(f"{scan}: FINDING  {key} ({where}): {what}")
        print(f"{scan}: {len(set(found))} found, {n_allowed} allowed")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
