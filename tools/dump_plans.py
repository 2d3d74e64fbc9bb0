"""Dump .explain("formatted") for declared queries to a directory.

Usage: python tools/dump_plans.py <out_dir> <suffix> [query ...]
Writes <out_dir>/<query>_<suffix>.txt for each named query (default:
every declared query of __spark_entry__.queries()).  Runs at
$SPARK_GRAFT_SF_DIR (default sf0.1) so plans match the bench's AQE/stats
decisions.  Dump a tree before and after a change, then
``diff -r before/ after/`` shows every plan the change moved.

What differs between any two runs is normalized before writing, so two
dumps of unchanged plans are byte-identical:

- temp directories (``<tmp>/<name>_<random>`` -> ``<tmp>/<name>_*``), uuid
  part-file names and the checkout root (so ``spark-warehouse`` paths
  match across checkouts) are masked;
- session-global counters (expression ids ``#N``, exchange ``plan_id=N``,
  ``RDD[N]``) are renumbered in order of first appearance within the
  file, which keeps every reference-equality the plan shows.
"""

from __future__ import annotations

import os
import re
import sys
import tempfile

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

_UUID = re.compile(
    r"[0-9a-f]{8}-?[0-9a-f]{4}-?[0-9a-f]{4}-?[0-9a-f]{4}-?[0-9a-f]{12}")
_COUNTERS = (r"(?<=#)\d+", r"(?<=plan_id=)\d+", r"(?<=RDD\[)\d+(?=\])")


def normalize(txt: str) -> str:
    """Mask run-specific paths and renumber session-global counters."""
    tmp = re.escape(tempfile.gettempdir().rstrip("/"))
    txt = re.sub(tmp + r"/([A-Za-z0-9]+)_[A-Za-z0-9_]{8}(?=[/,\]\s]|$)",
                 r"<tmp>/\1_*", txt)
    txt = _UUID.sub("<uuid>", txt).replace(_ROOT, "<checkout>")
    for pat in _COUNTERS:
        seen: dict[str, str] = {}
        txt = re.sub(pat, lambda m: seen.setdefault(
            m.group(), str(len(seen) + 1)), txt)
    return txt


def main() -> None:
    if len(sys.argv) < 3:
        raise SystemExit(__doc__)
    out_dir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    import __spark_entry__ as entrymod
    from sedona_db_spark import get_spark

    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    entrymod._prep(spark, sf_dir)
    qs = entrymod.queries()
    os.makedirs(out_dir, exist_ok=True)
    for name in names or qs:
        df = qs[name](spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(normalize(txt))
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
