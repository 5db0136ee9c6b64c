#!/usr/bin/env python3
"""Name-reference scan: public definitions in src/main that no program reaches.

Usage: unreferenced_names.py [repo_root]

Lists every non-private `def`/`val`/`var`/`object`/`class`/`trait` in
src/main whose simple name appears nowhere else in src/main,
perfbench/src or tools (this script excluded): only tests, or nothing,
can reach it. Entry-point mains (and the objects of files that define
one), overrides and names shorter than four characters are left out.
A name that two definitions share counts each as the other's
reference, so the scan is a lower bound, not a proof. Scala `//` and
`/* ... */` comments are skipped: a name mentioned only in a comment is
not reached.

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
    "GraftExtensions": "loaded by name through spark.sql.extensions (README); "
                       "the test session and IndexStoreSpec's extensions test",
    "saveIndexes": "index persistence; IndexStoreSpec, ApiSpec and "
                   "IndexLifecycleSpec round trips",
    "loadIndex": "index persistence; IndexStoreSpec, ApiSpec and "
                 "IndexLifecycleSpec round trips",
    "nearDupFlagStream": "stream-static near-dup screen; StreamJoinSpec's "
                         "incremental-minhash mirror",
    "EventStream": "holds tumblingCounts",
    "asOfNative": "native as-of join; AsOfNativeSpec's window-as-of "
                  "differentials and plan shape",
    "trainLogReg": "iterative trainer; QualityClassifierSpec's "
                   "partition-invariance tests",
    "incrementalCapEngaged": "hot-cluster cap probe of SemDedupSpec",
    "langId": "language-id column; OperatorSpec",
    "Layout": "holds writeZOrdered",
    "RemoteEmbedder": "README's remote embedding service; RemoteEmbedderSpec",
}

DEF_RE = re.compile(
    r"^\s*((?:(?:final|implicit|lazy|override|sealed|case|abstract|private(?:\[\w+\])?|"
    r"protected(?:\[\w+\])?|@\w+(?:\([^)]*\))?)\s+)*)"
    r"(def|val|var|object|class|trait)\s+([A-Za-z_]\w*)")
WORD_RE = re.compile(r"[A-Za-z_]\w*")


def strip_comments(text):
    """`text` with every Scala `//` and (nested) `/* */` comment blanked
    out, newlines kept so line numbers hold; string and character
    literals are left alone."""
    out = []
    i, n, depth = 0, len(text), 0
    while i < n:
        c, two = text[i], text[i:i + 2]
        if depth:
            if two == "/*":
                depth, step = depth + 1, 2
            elif two == "*/":
                depth, step = depth - 1, 2
            else:
                step = 1
            out.append("".join(ch if ch == "\n" else " " for ch in text[i:i + step]))
            i += step
        elif two == "/*":
            depth = 1
            out.append("  ")
            i += 2
        elif two == "//":
            end = text.find("\n", i)
            end = n if end < 0 else end
            out.append(" " * (end - i))
            i = end
        elif text.startswith('"""', i):
            end = text.find('"""', i + 3)
            end = n if end < 0 else end + 3
            out.append(text[i:end])
            i = end
        elif c == '"' or (c == "'" and text[i + 2:i + 3] == "'") or text.startswith("'\\", i):
            # a string literal, or a character literal ('x' or '\x')
            j = i + 1
            while j < n and text[j] != c and text[j] != "\n":
                j += 2 if text[j] == "\\" else 1
            out.append(text[i:j + 1])
            i = j + 1
        else:
            out.append(c)
            i += 1
    return "".join(out)


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
            text = f.read()
        lines_of[p] = (strip_comments(text) if p.endswith(".scala") else text).splitlines()
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
