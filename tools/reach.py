#!/usr/bin/env python3
"""Reachability inventory of the library's public defs and their parameters.

Prints every public def in src/main/scala/graft/{llm,ops,streaming,queries}
that no path from the contract reaches, one `file:line name` per line, then
every defaulted parameter of a public def in src/main/scala that no call
passes, one `file:line def.param` per line. Exits 1 if any printed def is not
one of the LAWS below (a stranded def: delete it, or move it to test scope if
a spec needs it as an oracle) or any printed parameter is not one of the
KEPT_PARAMS (a stranded parameter: inline its default), else 0. The count of
defaulted parameters on public defs goes to stderr.
Usage: python3 tools/reach.py (from anywhere).

Defs. Roots: the query registry (`all`, `oracles`), the mains and harness
files (Bench, Verify, Inspect, SparkEntry, Harness), everything under
perfbench/src, every `override`/`implicit`/`apply`, and every line of a class
or object body that lies outside a member def/val (e.g. the GraftExtensions
registrations). From the roots, references are followed transitively, with
comments stripped. A member is a def/val declared directly in a class/object/
trait body; its body runs until the next line indented no deeper than its
own. A reference written `Obj.name`, with `Obj` a class or object of the
library, reaches only `Obj`'s member `name`; one written `expr.name` reaches
every member called `name`; a bare `name` reaches the members of that name in
its own file and in the objects the file imports.

Parameters. A call passes a parameter if it sets it by name or by position
in the same argument list; calls from src/main, src/test and perfbench/src
count. A call is matched to every def of its name (to `Obj`'s only, when
written `Obj.name`). An argument that is just the enclosing def's own
never-passed parameter (`fast = fast`) does not count; that rule is applied
until the set stops changing.
"""
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAIN = os.path.join(ROOT, "src", "main", "scala")
TEST = os.path.join(ROOT, "src", "test", "scala")
PERF = os.path.join(ROOT, "perfbench", "src")
SCOPE = tuple(os.path.join("src", "main", "scala", "graft", d) + os.sep
              for d in ("llm", "ops", "streaming", "queries"))
ROOT_FILES = {os.path.join("src", "main", "scala", "graft", f + ".scala")
              for f in ("Bench", "Verify", "Inspect", "SparkEntry", "Harness")}
ROOT_NAMES = {"all", "oracles", "apply", "unapply"}

# Unreached defs kept on purpose: each states a law its spec test holds.
# What a law uses counts as reached.
LAWS = {
    "FuzzyJoin.countFilterCandidates": "FuzzyJoinSpec: count filter: verify "
                                       "set is complete and strictly prunes",
    "PageRank.pageRankWeightedUntil": "PageRankSpec: pageRankWeightedUntil: "
                                      "same contract on the weighted form — "
                                      "deterministic stop, bit-equal to the "
                                      "fixed API at the stop round",
    "ZOrder.zvalue": "ZOrderSpec: zvalue column == reference interleave on "
                     "random input",
    "ZOrder.writeZOrdered": "ZOrderSpec: writeZOrdered round-trips schema and "
                            "rows; returns stats",
    "StreamingImpute.imputeStreamScaledExpiring": "StreamingStateBoundSpec: "
                                                  "expiring impute houses: "
                                                  "state rows plateau at the "
                                                  "TTL horizon",
    "StreamingNearDup.candidatePairsExpiring": "StreamingStateBoundSpec: "
                                               "expiring near-dup buckets: "
                                               "state rows plateau at the TTL "
                                               "horizon",
    "BpeTrain.learnMergesBatched": "BatchedBpeSpec: property: batched merge "
                                   "list == sequential, across seeds/"
                                   "alphabets/batch sizes",
    "Dedup.lshPlan": "LshPlanSpec: lshPlan: crossover sits under the "
                     "threshold; known plans",
    "Dedup.semDedupAuto": "RetrievalSpec: semDedupAuto: sqrt(N) nlist, "
                          "first-nonzero-k centroids, == explicit call",
    "Kmv.vunion": "SketchSpec: fold(s1, s2) == sketch(union), exactly — "
                  "saturated included",
    "NgramLm.mergeCounts": "NgramLmSpec: incremental count merge == retrain "
                           "on the union",
    "QualityClassifier.train": "QualityClassifierSpec: training is "
                               "deterministic under repartitioning (decimal "
                               "gradient sums)",
    "UnigramLm.emStep": "UnigramLmSpec: EM never decreases corpus "
                        "log-likelihood",
    "UnigramLm.train": "UnigramLmSpec: training is bit-identical under "
                       "different partitionings",
    "WordPiece.vocabulary": "WordPieceSpec: trained vocab round-trips its own "
                            "training words",
}

# Never-passed parameters kept on purpose: each mirrors a parameter of the
# reference implementation, cited in its Scaladoc.
KEPT_PARAMS = {
}

LEX = re.compile(r'"""[\s\S]*?"""|"(?:\\.|[^"\\\n])*"|\'(?:\\.|[^\'\\\n])\''
                 r'|//[^\n]*|/\*[\s\S]*?\*/')
TEMPLATE = re.compile(r'^\s*(?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|'
                      r'sealed\s+|abstract\s+|implicit\s+|case\s+)*'
                      r'(?:class|object|trait)\s+(\w+)')
MEMBER = re.compile(r'^\s*((?:(?:private|protected)(?:\[\w+\])?\s+|override\s+'
                    r'|final\s+|implicit\s+|lazy\s+|@\w+\s+)*)(def|val|var)\s+'
                    r'([A-Za-z_]\w*)')
IDENT = re.compile(r'[A-Za-z_]\w*')
REF = re.compile(r'(?:([A-Za-z_]\w*)\s*\.\s*|(\.)\s*)?\b([A-Za-z_]\w*)')
IMPORT = re.compile(r'\bimport\s+([\w.]+)\.(?:\{([^}]*)\}|(\w+))')
CALL = re.compile(r'(?:\b([A-Za-z_]\w*)\s*\.\s*|\.\s*)?'
                  r'\b([A-Za-z_]\w*)\s*(?=[(\[])')
PARAM = re.compile(r'^\s*(?:implicit\s+)?(?:val\s+)?([A-Za-z_]\w*)\s*:')
NAMED = re.compile(r'^\s*([A-Za-z_]\w*)\s*=(?![=>])')
OPEN, CLOSE = "([{", ")]}"


def strip_comments(text):
    def blank(m):
        s = m.group(0)
        return s if s[0] in "\"'" else re.sub(r"[^\n]", " ", s)
    return LEX.sub(blank, text)


def blank_strings(text):
    """Comments and string bodies blanked, offsets and newlines kept."""
    def blank(m):
        s = m.group(0)
        return re.sub(r"[^\n]", " ", s) if s[0] not in "\"'" else (
            s[0] + re.sub(r"[^\n]", " ", s[1:-1]) + s[-1])
    return LEX.sub(blank, text)


def scala_files(top):
    for d, _, fs in os.walk(top):
        for f in sorted(fs):
            if f.endswith(".scala"):
                yield os.path.join(d, f)


def units(rel, lines):
    """Split one file into member units and the root text outside them."""
    out, root, templates, cur = [], [], [], None
    for no, line in enumerate(lines, 1):
        if not line.strip():
            continue
        ind = len(line) - len(line.lstrip())
        closer = line.lstrip()[0] in "})"
        if cur and (ind > cur["ind"] or (ind == cur["ind"] and closer)):
            cur["text"].append(line)
            cur["end"] = no
            continue
        cur = None
        while templates and (ind < templates[-1][0] or (
                ind == templates[-1][0] - 2 and line.lstrip()[0] == "}")):
            templates.pop()
        m = MEMBER.match(line)
        if m and templates and ind == templates[-1][0]:
            mods = m.group(1)
            cur = {"file": rel, "line": no, "end": no, "name": m.group(3),
                   "ind": ind, "kind": m.group(2), "text": [line],
                   "owner": templates[-1][1],
                   "public": "private" not in mods and "protected" not in mods,
                   "root": rel in ROOT_FILES or "override" in mods
                   or "implicit" in mods or m.group(3) in ROOT_NAMES}
            out.append(cur)
            continue
        t = TEMPLATE.match(line)
        if t:
            templates.append((ind + 2, t.group(1)))
        root.append(line)
    return out, root


def load(top):
    """(rel, stripped text, code text with strings blanked) per file."""
    for path in scala_files(top):
        with open(path, encoding="utf-8") as f:
            raw = f.read()
        yield os.path.relpath(path, ROOT), strip_comments(raw), \
            blank_strings(raw)


class Index:
    def __init__(self, all_units):
        self.by_name, self.by_owner, self.by_file = {}, {}, {}
        for u in all_units:
            self.by_name.setdefault(u["name"], []).append(u)
            self.by_owner.setdefault((u["owner"], u["name"]), []).append(u)
            self.by_file.setdefault((u["file"], u["name"]), []).append(u)
        self.owners = {u["owner"] for u in all_units}

    def imports(self, text):
        """(owner, member or None for all) pairs a file's imports open."""
        out = set()
        for m in IMPORT.finditer(text):
            path, group, one = m.groups()
            last = path.split(".")[-1]
            if last not in self.owners:
                continue
            names = [one] if one else [
                n.split("=>")[0].strip() for n in group.split(",")]
            for n in names:
                out.add((last, None if n == "_" else n))
        return out

    def resolve(self, qual, dot, name, rel, opened):
        """Members a reference may mean (see the module doc)."""
        if qual and qual in self.owners and qual not in ("this", "super"):
            return self.by_owner.get((qual, name), [])
        if qual or dot:
            if qual in ("this", "super"):
                return self.by_file.get((rel, name), [])
            return self.by_name.get(name, [])
        out = list(self.by_file.get((rel, name), []))
        for owner, member in opened:
            if member in (None, name):
                out += self.by_owner.get((owner, name), [])
        return out


def refs(text):
    for m in REF.finditer(text):
        yield m.group(1), m.group(2), m.group(3)


def reach(index, all_units, roots, opened, laws=()):
    """Member units the roots (and the law units) reach, following
    references transitively."""
    seen, todo = set(), []

    def visit(text, rel):
        for qual, dot, name in refs(text):
            for u in index.resolve(qual, dot, name, rel, opened[rel]):
                if id(u) not in seen:
                    seen.add(id(u))
                    todo.append(u)

    for rel, text in roots:
        visit(text, rel)
    for u in all_units:
        if (u["root"] or u in laws) and id(u) not in seen:
            seen.add(id(u))
            todo.append(u)
    while todo:
        u = todo.pop()
        visit("\n".join(u["text"]), u["file"])
    return seen


def groups(code, i):
    """The balanced bracket group opening at code[i]: (end, inner text)."""
    depth, j = 0, i
    while j < len(code):
        c = code[j]
        if c in OPEN:
            depth += 1
        elif c in CLOSE:
            depth -= 1
            if depth == 0:
                return j + 1, code[i + 1:j]
        j += 1
    return len(code), code[i + 1:]


def split_top(inner):
    """Top-level comma-separated pieces with their offsets."""
    out, depth, start = [], 0, 0
    for j, c in enumerate(inner):
        if c in OPEN:
            depth += 1
        elif c in CLOSE:
            depth -= 1
        elif c == "," and depth == 0:
            out.append((start, inner[start:j]))
            start = j + 1
    if inner[start:].strip():
        out.append((start, inner[start:]))
    return out


def skip_ws(code, i):
    while i < len(code) and code[i] in " \t\n":
        i += 1
    return i


def param_lists(code, i):
    """Parameter lists of the def whose name ends at code[i]."""
    i = skip_ws(code, i)
    if i < len(code) and code[i] == "[":
        i, _ = groups(code, i)
    lists = []
    while True:
        i = skip_ws(code, i)
        if i >= len(code) or code[i] != "(":
            return lists
        end, inner = groups(code, i)
        lists.append([(i + 1 + off, piece)
                      for off, piece in split_top(inner)])
        i = end


def arg_lists(code, i):
    """Argument lists of the call whose name ends at code[i]: per list, one
    (name it is set by, or None when positional; its expression) per
    argument. A `{...}` block is one positional argument."""
    i = skip_ws(code, i)
    if i < len(code) and code[i] == "[":
        i, _ = groups(code, i)
    lists = []
    while True:
        j = skip_ws(code, i)
        if j >= len(code) or code[j] not in "({" or (
                lists and "\n" in code[i:j]):
            return lists
        end, inner = groups(code, j)
        args = [inner] if code[j] == "{" else [p for _, p in split_top(inner)]
        lists.append([(NAMED.match(a).group(1) if NAMED.match(a) else None,
                       (a.split("=", 1)[1] if NAMED.match(a) else a).strip())
                      for a in args])
        i = end


def defaulted(all_units, files):
    """Defaulted parameters of public defs, as dicts: the def's unit, the
    parameter list and position, name, line and default text."""
    out = []
    for u in all_units:
        if u["kind"] != "def" or not u["public"]:
            continue
        _, stripped, code = files[u["file"]]
        start = line_offset(code, u["line"])
        m = re.compile(r'\bdef\s+' + re.escape(u["name"])).search(code, start)
        for li, params in enumerate(param_lists(code, m.end())):
            for pos, (off, piece) in enumerate(params):
                p = PARAM.match(piece)
                eq = re.search(r'(?<![=!<>])=(?![=>])', piece)
                if p and eq:
                    out.append({"unit": u, "list": li, "pos": pos,
                                "name": p.group(1),
                                "line": code.count("\n", 0,
                                                   off + p.start(1)) + 1,
                                "default": " ".join(stripped[
                                    off + eq.end():off + len(piece)].split())})
    return out


def line_offset(code, line):
    off = 0
    for _ in range(line - 1):
        off = code.index("\n", off) + 1
    return off


def stranded_params(index, all_units, files, opened):
    params = defaulted(all_units, files)
    by_unit = {}
    for p in params:
        by_unit.setdefault(id(p["unit"]), []).append(p)
    calls = []  # (candidate params, enclosing unit, arg lists)
    for rel, (_, _, code) in files.items():
        enclosing = [u for u in all_units if u["file"] == rel]
        for m in CALL.finditer(code):
            qual, name = m.group(1), m.group(2)
            if code[max(0, m.start() - 4):m.start()].endswith("def "):
                continue
            dot = code[m.start():m.start(2)].strip() == "."
            cands = [u for u in index.resolve(qual, dot, name, rel,
                                              opened[rel])
                     if id(u) in by_unit]
            if not cands:
                continue
            no = code.count("\n", 0, m.start()) + 1
            encl = next((u for u in enclosing
                         if u["line"] <= no <= u["end"]), None)
            calls.append((cands, encl, arg_lists(code, m.end())))
    never = {id(p) for p in params}
    changed = True
    while changed:
        changed = False
        for cands, encl, lists in calls:
            own = {p["name"] for p in by_unit.get(id(encl), ())
                   if id(p) in never} if encl else set()
            for u in cands:
                for p in by_unit[id(u)]:
                    if id(p) not in never or p["list"] >= len(lists):
                        continue
                    for k, (named, expr) in enumerate(lists[p["list"]]):
                        hit = named == p["name"] if named else k == p["pos"]
                        if hit and expr not in own:
                            never.discard(id(p))
                            changed = True
                            break
    return params, [p for p in params if id(p) in never]


def main():
    files = {}
    for top in (MAIN, TEST, PERF):
        for rel, stripped, code in load(top):
            files[rel] = (top, stripped, code)
    all_units, roots = [], []
    for rel, (top, stripped, _) in files.items():
        if top == MAIN:
            us, root = units(rel, stripped.split("\n"))
            all_units += us
            roots.append((rel, "\n".join(root)))
        elif top == PERF:
            roots.append((rel, stripped))
    index = Index(all_units)
    opened = {rel: index.imports(stripped)
              for rel, (_, stripped, _) in files.items()}
    key = lambda u: f'{u["owner"]}.{u["name"]}'
    contract = reach(index, all_units, roots, opened)
    laws = [u for u in all_units if key(u) in LAWS]
    kept = reach(index, all_units, roots, opened, laws)
    stranded = 0
    for u in all_units:
        if (u["kind"] == "def" and u["public"] and id(u) not in contract
                and (u in laws or id(u) not in kept)
                and u["file"].startswith(SCOPE)):
            print(f'{u["file"]}:{u["line"]} {u["name"]}')
            stranded += u not in laws
    params, never = stranded_params(index, all_units, files, opened)
    for p in never:
        name = f'{p["unit"]["name"]}.{p["name"]}'
        print(f'{p["unit"]["file"]}:{p["line"]} {name}')
        stranded += f'{p["unit"]["owner"]}.{name}' not in KEPT_PARAMS
    print(f"{len(params)} defaulted parameters on public defs, "
          f"{len(never)} never passed", file=sys.stderr)
    return 1 if stranded else 0


if __name__ == "__main__":
    sys.exit(main())
