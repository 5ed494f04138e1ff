#!/usr/bin/env python3
"""Reachability inventory of the library's public defs.

Prints every public def in src/main/scala/graft/{llm,ops,streaming,queries}
that no path from the contract reaches, one `file:line name` per line. Exits
1 if any printed def is not one of the LAWS below (a stranded def: delete it,
or move it to test scope if a spec needs it as an oracle), else 0.
Usage: python3 tools/reach.py (from anywhere).

Roots: the query registry (`all`, `oracles`), the mains and harness files
(Bench, Verify, Inspect, SparkEntry, Harness), everything under perfbench/src,
every `override`/`implicit`/`apply`, and every line of a class or object body
that lies outside a member def/val (e.g. the GraftExtensions registrations).
From the roots, names are followed transitively, with comments stripped.
A member is a def/val declared directly in a class/object/trait body; its
body runs until the next line indented no deeper than its own.
Matching is by bare name, so two members sharing a name share their fate.
"""
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAIN = os.path.join(ROOT, "src", "main", "scala")
SCOPE = tuple(os.path.join("src", "main", "scala", "graft", d) + os.sep
              for d in ("llm", "ops", "streaming", "queries"))
ROOT_FILES = {os.path.join("src", "main", "scala", "graft", f + ".scala")
              for f in ("Bench", "Verify", "Inspect", "SparkEntry", "Harness")}
ROOT_NAMES = {"all", "oracles", "apply", "unapply"}

# Unreached defs kept on purpose: each states a law its spec test holds.
LAWS = {
    "countFilterCandidates": "FuzzyJoinSpec: count filter: verify set is "
                             "complete and strictly prunes",
    "pageRankWeightedUntil": "PageRankSpec: pageRankWeightedUntil: same "
                             "contract on the weighted form — deterministic "
                             "stop, bit-equal to the fixed API at the stop "
                             "round",
    "zvalue": "ZOrderSpec: zvalue column == reference interleave on random "
              "input",
    "writeZOrdered": "ZOrderSpec: writeZOrdered round-trips schema and rows; "
                     "returns stats",
    "imputeStreamScaledExpiring": "StreamingStateBoundSpec: expiring impute "
                                  "houses: state rows plateau at the TTL "
                                  "horizon",
    "candidatePairsExpiring": "StreamingStateBoundSpec: expiring near-dup "
                              "buckets: state rows plateau at the TTL horizon",
    "learnMergesBatched": "BatchedBpeSpec: property: batched merge list == "
                          "sequential, across seeds/alphabets/batch sizes",
    "lshPlan": "LshPlanSpec: lshPlan: crossover sits under the threshold; "
               "known plans",
    "semDedupAuto": "RetrievalSpec: semDedupAuto: sqrt(N) nlist, "
                    "first-nonzero-k centroids, == explicit call",
    "vunion": "SketchSpec: fold(s1, s2) == sketch(union), exactly — "
              "saturated included",
    "mergeCounts": "NgramLmSpec: incremental count merge == retrain on the "
                   "union",
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


def strip_comments(text):
    def blank(m):
        s = m.group(0)
        return s if s[0] in "\"'" else re.sub(r"[^\n]", " ", s)
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
            continue
        cur = None
        while templates and (ind < templates[-1] or (
                ind == templates[-1] - 2 and line.lstrip()[0] == "}")):
            templates.pop()
        m = MEMBER.match(line)
        if m and templates and ind == templates[-1]:
            mods = m.group(1)
            cur = {"file": rel, "line": no, "name": m.group(3), "ind": ind,
                   "kind": m.group(2), "text": [line],
                   "public": "private" not in mods and "protected" not in mods,
                   "root": rel in ROOT_FILES or "override" in mods
                   or "implicit" in mods or m.group(3) in ROOT_NAMES}
            out.append(cur)
            continue
        if TEMPLATE.match(line):
            templates.append(ind + 2)
        root.append(line)
    return out, root


def main():
    all_units, root_text = [], []
    for path in scala_files(MAIN):
        rel = os.path.relpath(path, ROOT)
        with open(path, encoding="utf-8") as f:
            us, root = units(rel, strip_comments(f.read()).split("\n"))
        all_units += us
        root_text += root
    for path in scala_files(os.path.join(ROOT, "perfbench", "src")):
        with open(path, encoding="utf-8") as f:
            root_text.append(strip_comments(f.read()))
    by_name = {}
    for u in all_units:
        by_name.setdefault(u["name"], []).append(u)
    todo = set(IDENT.findall("\n".join(root_text)))
    todo |= {u["name"] for u in all_units if u["root"]}
    seen = set()
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        for u in by_name.get(name, ()):
            todo |= set(IDENT.findall("\n".join(u["text"]))) - seen
    stranded = 0
    for u in all_units:
        if (u["kind"] == "def" and u["public"] and u["name"] not in seen
                and u["file"].startswith(SCOPE)):
            print(f'{u["file"]}:{u["line"]} {u["name"]}')
            stranded += u["name"] not in LAWS
    return 1 if stranded else 0


if __name__ == "__main__":
    sys.exit(main())
