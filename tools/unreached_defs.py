#!/usr/bin/env python3
"""List the public operator defs that no entry point of graft reaches.

Usage: python3 tools/unreached_defs.py [--all]

Walks transitive reachability over the Scala sources from the entry
points: the query catalog (`Catalog`), `Bench`, `Verify` and
`VerifyAssertions`, `SparkEntry`, the CLI (`cli.Main`), the kept tools
(`graft.tools.*`) and the perfbench client (`perfbench/src`). A member
is reached when a reached body names it. Comments, scaladoc and string
literals are blanked first, so a `[[name]]` link or a name inside SQL
text is not a caller; the code inside `${...}` of an interpolated
string still is.

Name resolution is by scope, over-approximating where Scala's rules are
too rich to model: an unqualified name resolves to a member of the
enclosing objects, then to names the file imports; `Obj.name` resolves
to `Obj`'s member; `value.name` resolves to the methods of implicit
classes (the extension methods of `Ops`). Overloads of a name are one
node.

Every public `def` of an object under `src/main/scala/graft` that stays
unreached must be on ALLOWLIST below, which names its COVERAGE.md row;
what an allowlisted def calls counts as kept. Exits 1 and prints the
others when any is left, or when an allowlist entry is reached or gone;
`--all` also lists unreached private members, as a hint of dead
helpers.
"""
import bisect
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAIN = os.path.join(ROOT, "src", "main", "scala", "graft")
PERFBENCH = os.path.join(ROOT, "perfbench", "src")

# Objects whose every member is an entry point.
ROOT_OBJECTS = {
    "Catalog", "Bench", "Verify", "VerifyAssertions", "SparkEntry",
    "cli.Main", "tools.ProbeMinhash", "tools.ProbeSimhash", "tools.ProbePq",
    "tools.Explain", "tools.TimeQ", "tools.TestData", "tools.ScaleUp",
    "tools.ScaleUpDocs", "tools.ScaleUpEmbeddings",
    "tools.ScaleUpEmbeddingsHard",
}

# Unreached public defs kept on purpose: "Object.def" -> the COVERAGE.md
# row that maps it. The first group is the TurboCSV reference surface
# (COVERAGE.md sections 2.1-2.12); the second are operators of the
# "Beyond the reference" table whose specs pin behaviour no catalog
# route serves, among them the exact forms specs use as ground truth.
# (Methods of classes, such as Mutations.WritableFrame's getCell/save/
# discardChanges, are not counted: only object members are.)
ALLOWLIST = {
    "CsvReader.readUrl": "2.1 URL scan (headers + credential modes)",
    "SchemaCoercion.apply": "2.8 Scalar functions (the reference's Schema<T> coercion)",
    "Joins.saltedJoin": "2.3 Joins: Salted skew join",
    "Aggregates.firstBy": "2.4 Aggregations: deterministic first/last",
    "Aggregates.lastBy": "2.4 Aggregations: deterministic first/last",
    "Aggregates.customAggDouble": "2.4 Aggregations: custom closure",
    "Aggregates.customAggString": "2.4 Aggregations: custom closure",
    "Aggregates.columnAgg": "2.4 Aggregations: Zig whole-column loose-parse aggs",
    "Coercions.dynamicTag": "2.8 Scalar functions: per-value dynamic-typing tag",
    "Nested.flatten": "2.8 Scalar functions: flatten/unflatten dot-notation",
    "Nested.unflatten": "2.8 Scalar functions: flatten/unflatten dot-notation",
    "Streams.csvStream": "2.9 Streaming: file-source CSV/parquet streams",
    "Streams.parquetStream": "2.9 Streaming: file-source CSV/parquet streams",
    "Streams.windowedAgg": "2.9 Streaming: watermarked windowed agg",
    "Streams.sessionize": "2.9 Streaming: flatMapGroupsWithState sessionization",
    "Streams.runToMemory": "2.9 Streaming: stream == batch specs",
    "Streams.dedupStream": "Streaming dedup",
    "Similarity.cosinePairs": "Semantic (embedding-space) dedup; exact ground truth",
    "Dedup.containmentPairs": "Shingle containment pairs; exact ground truth",
    "Dedup.containmentPairsPrefix": "Shingle containment pairs",
    "Dedup.editDistancePairs": "Edit-distance record linkage",
    "Bucketing.writeBucketed": "Bucketed co-located joins",
    "Bucketing.bucketJoin": "Bucketed co-located joins",
    "Bucketing.zorderLayout": "Z-order layout clustering",
    "Curation.packSequencesSharded": "Sequence packing",
    "Multimodal.extractFeatures": "Multimodal columns",
    "Multimodal.resize": "Multimodal columns",
    "Multimodal.sampleFrames": "Multimodal columns",
    "Sampling.temperatureMixture": "Temperature mixture sampling",
    "Stats.heavyHitters": "Exact heavy hitters (Count-Min gated)",
    "SketchGate.bloom_contains": "Sketch probe expressions",
}


def blank(text):
    """Comments and string literals to spaces, newlines kept; the code
    inside `${...}` and `$name` of an interpolated string is kept."""
    out = []
    i, n = 0, len(text)

    def spaces(s):
        return "".join(c if c == "\n" else " " for c in s)

    while i < n:
        c = text[i]
        if text.startswith("//", i):
            j = text.find("\n", i)
            j = n if j < 0 else j
            out.append(spaces(text[i:j]))
            i = j
        elif text.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if text.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif text.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            out.append(spaces(text[i:j]))
            i = j
        elif c == "'" and i + 2 < n and (text[i + 2] == "'" or text[i + 1] == "\\"):
            j = text.find("'", i + 2 if text[i + 1] == "\\" else i + 1)
            j = i + 3 if j < 0 else j + 1
            out.append(spaces(text[i:j]))
            i = j
        elif c == '"':
            interp = i > 0 and (text[i - 1].isalnum() or text[i - 1] == "_")
            triple = text.startswith('"""', i)
            j = i + (3 if triple else 1)
            buf = ['"' * (3 if triple else 1)]
            while j < n:
                if triple and text.startswith('"""', j):
                    while j + 3 < n and text[j + 3] == '"':
                        buf.append(" ")
                        j += 1
                    buf.append('"""')
                    j += 3
                    break
                if not triple and text[j] == "\\":
                    buf.append("  ")
                    j += 2
                    continue
                if not triple and text[j] == '"':
                    buf.append('"')
                    j += 1
                    break
                if interp and text.startswith("$$", j):
                    buf.append("  ")
                    j += 2
                    continue
                if interp and text.startswith("${", j):
                    depth, k = 1, j + 2
                    while k < n and depth:
                        depth += {"{": 1, "}": -1}.get(text[k], 0)
                        k += 1
                    buf.append(" " + blank(text[j + 1:k]))
                    j = k
                    continue
                if interp and text[j] == "$":
                    m = re.match(r"\$([A-Za-z_]\w*)", text[j:])
                    if m:
                        buf.append(" " + m.group(1))
                        j += len(m.group(0))
                        continue
                buf.append(spaces(text[j]))
                j += 1
            out.append("".join(buf))
            i = j
        else:
            out.append(c)
            i += 1
    return "".join(out)


DECL = re.compile(
    r"((?:(?:private|protected)(?:\[\w+\])?\s+|override\s+|final\s+|"
    r"implicit\s+|lazy\s+|case\s+|sealed\s+|abstract\s+)*)"
    r"\b(def|val|var|object|class|trait)\s+([A-Za-z_][\w]*|`[^`]+`)")
IDENT = re.compile(r"(\.\s*)?\b([A-Za-z_]\w*)\b")


class Member:
    def __init__(self, owner, name, kind, mods, path, line):
        self.owner, self.name, self.kind = owner, name, kind
        self.mods, self.path, self.line = mods, path, line
        self.body = []          # text spans that belong to this member
        self.key = owner + "." + name if owner else name

    @property
    def public(self):
        return not re.search(r"\b(private|protected)\b", self.mods)


def parse(path, pkg_root):
    """Members of each object/class in one file, plus its imports."""
    text = blank(open(path, encoding="utf-8").read())
    pkg = ""
    m = re.search(r"^\s*package\s+([\w.]+)", text, re.M)
    if m:
        pkg = m.group(1)
    sub = pkg[len(pkg_root):].lstrip(".") if pkg.startswith(pkg_root) else pkg
    imports = re.findall(r"\bimport\s+(\w+(?:\.\w+)*(?:\.\{[^}]*\}|\._)?)", text)

    members = []
    line_starts = [0] + [i + 1 for i, c in enumerate(text) if c == "\n"]

    def line_of(off):
        return bisect.bisect_right(line_starts, off)

    # scopes: (brace depth of the template body, its member or None)
    scopes = [(0, None)]
    depth, parens = 0, [0]
    pending = None          # (template member, depth) awaiting its '{'
    current = None          # the member the text at the cursor belongs to
    last = 0
    for mt in re.finditer(r"[{}()]|" + DECL.pattern, text):
        if current is not None:
            current.body.append(text[last:mt.start()])
        last = mt.end()
        tok = mt.group(0)
        if tok in "()":
            parens[-1] += 1 if tok == "(" else -1
            if current is not None:
                current.body.append(tok)
            continue
        if tok == "{":
            depth += 1
            parens.append(0)
            if pending is not None and pending[1] == depth - 1:
                scopes.append((depth, pending[0]))
                current = pending[0]
            pending = None
            if current is not None:
                current.body.append(tok)
            continue
        if tok == "}":
            if current is not None:
                current.body.append(tok)
            if scopes[-1][0] == depth and len(scopes) > 1:
                scopes.pop()
                current = scopes[-1][1]
            depth -= 1
            parens.pop()
            continue
        mods, kind, name = mt.group(1), mt.group(2), mt.group(3)
        body_depth, owner = scopes[-1]
        plain_class = owner is not None and owner.kind != "object" and \
            not (owner.kind == "class" and "implicit" in owner.mods)
        if depth != body_depth or parens[-1] > 0 or plain_class:
            # a local declaration, a parameter, or a member of an
            # ordinary class: part of the enclosing body
            if current is not None:
                current.body.append(tok)
            continue
        if owner is None:
            key_name = ".".join(x for x in (sub, name) if x)
            mem = Member("", key_name, kind, mods, path, line_of(mt.start()))
        else:
            mem = Member(owner.key, name, kind, mods, path, line_of(mt.start()))
        members.append(mem)
        current = mem
        mem.body.append(tok[len(mods):])
        pending = (mem, depth) if kind in ("object", "class", "trait") else None
    if current is not None:
        current.body.append(text[last:])
    return members, imports


def main():
    show_all = "--all" in sys.argv[1:]
    files = []
    for base, is_root in ((MAIN, False), (PERFBENCH, True)):
        for d, _, fs in os.walk(base):
            for f in sorted(fs):
                if f.endswith(".scala"):
                    files.append((os.path.join(d, f), is_root))

    members, file_of = {}, {}
    file_imports = {}
    for path, is_root in files:
        ms, imps = parse(path, "graft")
        file_imports[path] = imps
        for m in ms:
            if m.key in members:
                members[m.key].body.extend(m.body)
            else:
                members[m.key] = m
            file_of[m.key] = (path, is_root)

    objects = {k: m for k, m in members.items() if m.kind in ("object", "class", "trait")}
    by_short = {}
    for k in objects:
        by_short.setdefault(k.split(".")[-1], []).append(k)
    children = {}
    for k, m in members.items():
        children.setdefault(m.owner, {}).setdefault(m.name, []).append(k)
    ext_methods = {}
    for k, m in members.items():
        o = members.get(m.owner)
        if o is not None and o.kind == "class" and "implicit" in o.mods:
            ext_methods.setdefault(m.name, []).append(k)

    def import_scope(path):
        wild, named = [], {}
        for imp in file_imports[path]:
            imp = re.sub(r"^graft\.", "", imp)
            if imp.endswith("._"):
                wild.append(imp[:-2])
            elif ".{" in imp:
                base, names = imp.split(".{", 1)
                for part in names.rstrip("}").split(","):
                    part = part.strip()
                    if "=>" in part:
                        a, b = [x.strip() for x in part.split("=>")]
                        named.setdefault(b, []).append(base + "." + a)
                    elif part and part != "_":
                        named.setdefault(part, []).append(base + "." + part)
                    elif part == "_":
                        wild.append(base)
            else:
                named.setdefault(imp.split(".")[-1], []).append(imp)
        return wild, named

    scopes = {p: import_scope(p) for p in file_imports}

    def resolve_object(name, owner):
        """Object keys that a bare object name may denote."""
        out = []
        o = owner
        while o:
            if (o + "." + name) in objects:
                out.append(o + "." + name)
            o = members[o].owner if o in members else ""
        return out or by_short.get(name, [])

    def edges(m):
        wild, named = scopes[m.path]
        text = "".join(m.body)
        found = set()
        for im in IDENT.finditer(text):
            dot, name = im.group(1), im.group(2)
            if dot:
                # qualified: look at the identifier before the dot
                pre = re.search(r"([A-Za-z_]\w*)\s*\.\s*$", text[:im.start(2)])
                quals = resolve_object(pre.group(1), m.owner or m.key) if pre else []
                if quals:
                    for q in quals:
                        found.update(children.get(q, {}).get(name, []))
                else:
                    found.update(ext_methods.get(name, []))
                continue
            # unqualified: enclosing objects first, then imports
            hit = False
            o = m.key if m.kind in ("object", "class", "trait") else m.owner
            while o:
                ks = children.get(o, {}).get(name)
                if ks:
                    found.update(ks)
                    hit = True
                    break
                o = members[o].owner if o in members else ""
            if not hit:
                for target in named.get(name, []):
                    if target in members:
                        found.add(target)
                    else:
                        # an import of a nested name: match by suffix
                        found.update(k for k in members if
                                     k.endswith("." + name) and target.endswith(k))
                for w in wild:
                    for q in ([w] if w in objects else by_short.get(w.split(".")[-1], [])):
                        found.update(children.get(q, {}).get(name, []))
            # a bare object name reaches the object (its initializer)
            for q in resolve_object(name, m.owner or m.key):
                found.add(q)
                found.update(children.get(q, {}).get("apply", []))
        found.discard(m.key)
        return found

    def walk(starts):
        reached, stack = set(starts), list(starts)
        while stack:
            m = members[stack.pop()]
            # reaching a member reaches its owner's initializer
            nxt = edges(m) | ({m.owner} if m.owner else set())
            for e in nxt - reached:
                reached.add(e)
                stack.append(e)
        return reached

    def short(k):
        return members[k].owner.split(".")[-1] + "." + members[k].name

    roots = {k for k in members if file_of[k][1] or any(
        k == r or k.startswith(r + ".") for r in ROOT_OBJECTS)}
    reached = walk(roots)
    # an allowlisted def is kept, and so is what it calls
    allowed = {k for k in members if members[k].owner and short(k) in ALLOWLIST}
    kept_reach = walk(reached | allowed)

    bad, kept, hidden = [], [], []
    for k, m in sorted(members.items(), key=lambda kv: (kv[1].path, kv[1].line)):
        owner = members.get(m.owner)
        if k in reached or m.kind != "def" or owner is None or \
                owner.kind != "object" or "override" in m.mods:
            continue
        where = "%s:%d %s" % (os.path.relpath(m.path, ROOT), m.line, short(k))
        if k in allowed:
            kept.append("%s  (%s)" % (where, ALLOWLIST[short(k)]))
        elif k in kept_reach:
            continue
        elif m.public:
            bad.append(where)
        else:
            hidden.append(where)
    # an entry must name an existing def that nothing else reaches
    stale = sorted(set(ALLOWLIST) - {short(k) for k in allowed - reached})
    print("unreached_defs: %d members, %d reached from %d roots" %
          (len(members), len(reached), len(roots)))
    for line in kept:
        print("allowlisted  " + line)
    for line in stale:
        print("STALE        " + line + "  (reached, or no such def)")
    if show_all:
        for line in hidden:
            print("private      " + line)
    for line in bad:
        print("UNREACHED    " + line)
    print("unreached_defs: %d unreached public def(s) outside the allowlist"
          % len(bad))
    return 1 if bad or stale else 0


if __name__ == "__main__":
    sys.exit(main())
