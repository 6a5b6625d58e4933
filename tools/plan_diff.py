"""Plan-diff helper for refactors that must not change query plans.

    python3 tools/plan_diff.py queries [SparkEntry.scala]
        prints the comma-separated registry names of every SparkEntry
        query whose function body calls graphTable/sqlGraph

    python3 tools/plan_diff.py diff A B
        masks the run-varying parts of two PlanDump trees (A and B are
        directories of `<query>_<suffix>.txt` files), writes the masked
        copies to A.norm/ and B.norm/ and prints a unified diff per
        changed file, then one summary line; exits 1 when a plan differs

Typical use, per gate, in the parent checkout and in the change:

    Q=$(python3 tools/plan_diff.py queries)
    SPARK_GRAFT_SF_DIR=<parquet dir> SPARK_GRAFT_EXTRA_CONF="" \\
      sbt -batch "runMain graft.PlanDump $OUT/def x $Q"
    python3 tools/plan_diff.py diff parent/def change/def

Masked: expression ids `#n`, exchange `plan_id=n`, RDD ids, object hashes
`@1a2b3c`, source lines of RDD call sites `.scala:n`, lambda-variable
suffixes `x_13`, and the ids of AQE query stages (`BroadcastQueryStage`
`Arguments: 3`), which swap when two stages of a cached view's plan
materialize concurrently. `freshName` counters (`__e3`) stay unmasked:
a shifted counter means the compiler emitted its frames in a different
order.
"""
import difflib
import os
import re
import sys

MASKS = [(r'#\d+L?', '#N'), (r'plan_id=\d+', 'plan_id=N'),
         (r'RDD\[\d+\]', 'RDD[N]'), (r'@[0-9a-f]{4,}\b', '@H'),
         (r'\.scala:\d+', '.scala:N'),
         (r'\b(lambda [a-z]+)_\d+', r'\1_N'),
         (r'\b([a-z]+)_\d+#N', r'\1_N#N'),
         (r'(QueryStage\n(?:Output[^\n]*\n)?Arguments: )\d+', r'\1N')]


def graph_queries(path):
    """Registry names whose function body calls graphTable/sqlGraph."""
    src = open(path).read()
    defs = [(m.start(), m.group(1)) for m in
            re.finditer(r'^  (?:private )?def (\w+)\(', src, re.M)]
    body = {n: src[p:(defs[i + 1][0] if i + 1 < len(defs) else len(src))]
            for i, (p, n) in enumerate(defs)}
    reg = re.findall(r'"(\w+)" -> \((\w+) _\)', src)
    return [k for k, f in reg
            if re.search(r'\b(graphTable|sqlGraph)\(', body.get(f, ""))]


def mask(text):
    for pat, rep in MASKS:
        text = re.sub(pat, rep, text)
    return text


def normalize(d):
    """Masked copies of the files of `d` in `d.norm/`: {name: lines}."""
    d = d.rstrip('/')
    os.makedirs(d + '.norm', exist_ok=True)
    out = {}
    for f in sorted(os.listdir(d)):
        t = mask(open(os.path.join(d, f)).read())
        open(os.path.join(d + '.norm', f), 'w').write(t)
        out[f] = t.splitlines(keepends=True)
    return out


def diff(a, b):
    na, nb = normalize(a), normalize(b)
    changed = []
    for f in sorted(set(na) | set(nb)):
        la, lb = na.get(f), nb.get(f)
        if la == lb:
            continue
        changed.append(f)
        sys.stdout.writelines(difflib.unified_diff(
            la or [], lb or [], os.path.join(a, f) if la is not None else
            '/dev/null', os.path.join(b, f) if lb is not None else
            '/dev/null'))
    print(f"{len(changed)} of {len(set(na) | set(nb))} plans differ"
          + (": " + ", ".join(changed) if changed else ""))
    return 1 if changed else 0


def main(argv):
    if len(argv) >= 1 and argv[0] == 'queries' and len(argv) <= 2:
        path = argv[1] if len(argv) == 2 else os.path.join(
            os.path.dirname(os.path.abspath(__file__)), '..',
            'src/main/scala/graft/SparkEntry.scala')
        print(",".join(graph_queries(path)))
        return 0
    if len(argv) == 3 and argv[0] == 'diff':
        return diff(argv[1], argv[2])
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == '__main__':
    sys.exit(main(sys.argv[1:]))
