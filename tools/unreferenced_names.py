#!/usr/bin/env python3
"""Name-reference scan: public definitions in src/main that no program reaches.

Usage: unreferenced_names.py [repo_root]

Lists every non-private `def`/`val`/`var`/`object`/`class`/`trait` in
src/main whose simple name appears nowhere else in src/main,
perfbench/src or tools (this script excluded): only tests, or nothing,
can reach it. Entry-point mains (and the objects of files that define
one), overrides and names shorter than four characters are left out.
A name that two definitions share counts each as the other's
reference, and a mention in a comment counts as a reference: the scan
is a lower bound, not a proof.

Names in ALLOWED are kept on purpose, each with its reason. The scan
exits non-zero when it finds any other name, so code that only tests
reach does not grow back unnoticed.
"""
import os
import re
import sys
from collections import Counter

# Kept names, each with the reason it stays: a gate (a tier-1 test or
# the driver contract) uses it as its reference, probe or subject.
ALLOWED = {
    "validateRelationships": "orphan-check oracle of the reference storage "
                             "(storage.py:278-306); CatalogSpec's cascade tests",
    "oracleSql": "driver contract: SourcesSpec checks that every static "
                 "oracle names a registered query",
    "lastSeq": "the WAL's sequence probe in DurabilitySpec",
    "refreshIndex": "the reference's incremental index maintenance "
                    "(M1-M4/M8); IndexLifecycleSpec's refresh contracts",
    "indexStale": "the staleness probe of CatalogSpec and IndexLifecycleSpec",
    "tumblingCounts": "streaming form of q41's window; MultimodalStreamingSpec's "
                      "stream-vs-batch equivalence",
    "dequantizeInt8": "int8 round-trip reference of AnnRecallSpec",
    "curateIncremental": "incremental curation; PipelineSpec's "
                         "batch-vs-corpus dedup tests",
    "curationReport": "per-stage survival counts; PipelineSpec's "
                      "monotonicity test",
    "writeZOrdered": "LayoutSpec's z-order skipping test",
    "structureHash": "graph-identity oracle of AnnRecallSpec's HNSW tests",
    "quantizationError": "OPQ reconstruction-error oracle of AnnRecallSpec",
    "registerAll": "README's programmatic SQL registration; VectorOpsSpec",
}

DEF_RE = re.compile(
    r"^\s*((?:(?:final|implicit|lazy|override|sealed|case|abstract|private(?:\[\w+\])?|"
    r"protected(?:\[\w+\])?|@\w+(?:\([^)]*\))?)\s+)*)"
    r"(def|val|var|object|class|trait)\s+([A-Za-z_]\w*)")
WORD_RE = re.compile(r"[A-Za-z_]\w*")


def sources(root, rel, exts):
    top = os.path.join(root, rel)
    for d, _, files in os.walk(top):
        for f in sorted(files):
            if f.endswith(exts):
                yield os.path.join(d, f)


def main():
    root = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else
                           os.path.join(os.path.dirname(__file__), ".."))
    me = os.path.abspath(__file__)
    main_files = list(sources(root, "src/main", (".scala",)))
    corpus = main_files + list(sources(root, "perfbench/src", (".scala",))) + [
        p for p in sources(root, "tools", (".py", ".sh", ".json"))
        if os.path.abspath(p) != me]

    counts = Counter()
    lines_of = {}
    for p in corpus:
        with open(p, encoding="utf-8") as f:
            lines_of[p] = f.read().splitlines()
        for line in lines_of[p]:
            counts.update(WORD_RE.findall(line))

    found = []
    for p in main_files:
        # an object in a file that defines a main is an entry point
        has_main = any(re.search(r"\bdef main\(", line) for line in lines_of[p])
        for no, line in enumerate(lines_of[p], 1):
            m = DEF_RE.match(line)
            if not m:
                continue
            mods, kind, name = m.group(1), m.group(2), m.group(3)
            if ("private" in mods or "protected" in mods or "override" in mods
                    or name == "main" or len(name) < 4
                    or (kind == "object" and has_main)):
                continue
            on_line = WORD_RE.findall(line).count(name)
            if counts[name] - on_line == 0:
                found.append((os.path.relpath(p, root), no, kind, name))

    unexpected = 0
    for path, no, kind, name in found:
        if name in ALLOWED:
            print(f"kept  {path}:{no} {kind} {name}: {ALLOWED[name]}")
        else:
            print(f"ONLY-TESTS {path}:{no} {kind} {name}")
            unexpected += 1
    print(f"== {unexpected} unreferenced, {len(found) - unexpected} kept")
    sys.exit(1 if unexpected else 0)


if __name__ == "__main__":
    main()
