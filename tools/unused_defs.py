#!/usr/bin/env python3
"""List the `def`s under src/main that nothing calls.

A def counts as unused when its name, as a whole word, appears nowhere in
the Scala sources of src/main or perfbench/src outside its own
definitions. Comments (`//` and `/* */`, scaladoc `[[links]]` included)
are stripped before counting; a mention in a string still counts as a
use. `apply` counts as used: `X(...)` calls it without naming it. Names
on the allowlist below are kept on purpose, each for the reason given.

Usage: python3 tools/unused_defs.py [repo_root]
Prints one `path:line: name` per unused def that is not allowlisted and
exits 1 if there is any; prints nothing and exits 0 otherwise.
"""
import os
import re
import sys
from collections import Counter

ALLOWLIST = {
    # reference-parity operators: goldens check them against the
    # reference's own Python (COVERAGE: "parity, golden-checked, no
    # engine caller")
    "kdePara": "parity operator Kde.kdePara",
    "columnOrder": "parity operator Paragraphs.columnOrder",
    "mergePipelineThree": "parity operator Merge.mergePipelineThree",
    "filterWordsLayout": "parity operator Filters.filterWordsLayout",
    "exactMedian": "parity operator Geometry.exactMedian",
    # the streaming extraction surface (SURVEY §2.8), run by its embedder
    "preTieredPages": "streaming surface StreamingExtraction",
    "curatedPages": "streaming surface StreamingExtraction",
    "outlinkEdges": "streaming surface StreamingExtraction",
    "ingestDedupedPages": "streaming surface StreamingExtraction",
    "lshCandidatePairs": "streaming surface StreamingExtraction",
    "sessionizedEvents": "streaming surface StreamingExtraction",
    "hllEstimate": "the only decoder of q6's HLL register layout",
    "sessionConf": "Iceberg session bring-up API shown in README",
    # callbacks the JVM or Spark invokes through a supertype
    "onSuccess": "QueryExecutionListener callback (CacheOnce)",
    "onFailure": "QueryExecutionListener callback (CacheOnce)",
    "initialValue": "ThreadLocal callback (Minhash)",
    "oracleSql": "oracle SQL map the correctness dump writes for the DuckDB compare",
    "entry": "SparkEntry.entry: the flagship smoke query of the query contract (rows > 0)",
    "windowedLangMetrics": "streaming surface StreamingExtraction",
    "hostProgress": "streaming surface StreamingExtraction",
    "runPartitioned": "CompactJob.runPartitioned: kept until the commit tail's design settles it",
    # called without its name
    "apply": "X(...) calls X.apply",
}

DEF = re.compile(r"\bdef\s+([A-Za-z_][A-Za-z0-9_]*)")
WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
# a char or string literal (kept whole, so `'"'` or `"//"` starts neither
# a string nor a comment) or a comment (dropped); Scala block comments
# nest, but no source here nests them
TOKEN = re.compile(r"""'(?:\\.|[^'\\\n])'|"{3}(?:.|\n)*?"{3}|"(?:\\.|[^"\\\n])*"|//[^\n]*|/\*(?:.|\n)*?\*/""")


def strip_comments(code):
    """`code` with each comment replaced by the newlines it spans, so line
    numbers still hold."""
    def keep(m):
        t = m.group(0)
        return t if t[0] in "'\"" else "\n" * t.count("\n")
    return TOKEN.sub(keep, code)


def scala_files(root):
    for top, _, files in os.walk(root):
        for f in sorted(files):
            if f.endswith(".scala"):
                yield os.path.join(top, f)


def main():
    repo = sys.argv[1] if len(sys.argv) > 1 else os.path.join(os.path.dirname(__file__), "..")
    main_dir = os.path.join(repo, "src", "main")
    bench_dir = os.path.join(repo, "perfbench", "src")

    uses = Counter()
    defs = []  # (path, line, name)
    for d in (main_dir, bench_dir):
        for path in scala_files(d):
            with open(path, encoding="utf-8") as fh:
                code = strip_comments(fh.read())
            uses.update(WORD.findall(code))
            if d == main_dir:
                for m in DEF.finditer(code):
                    defs.append((path, code.count("\n", 0, m.start()) + 1, m.group(1)))

    own = Counter(name for _, _, name in defs)
    unused = [(p, l, name) for p, l, name in defs
              if uses[name] == own[name] and name not in ALLOWLIST]
    for p, l, name in unused:
        print(f"{os.path.relpath(p, repo)}:{l}: {name}")
    return 1 if unused else 0


if __name__ == "__main__":
    sys.exit(main())
