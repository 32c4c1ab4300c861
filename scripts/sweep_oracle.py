"""Driver-emulation oracle sweep at an arbitrary scale factor.

Usage:
    python scripts/sweep_oracle.py /root/testdata/sf0.01        # 50-entry driver window
    python scripts/sweep_oracle.py /root/testdata/sf0.1 all     # every oracle-backed query
    python scripts/sweep_oracle.py /root/testdata/sf0.001 t15_chunking g02_part_pagerank

Reuses the repo parity gate's canonicalization/compare
(tests/test_oracle_parity.py) so a green sweep here predicts a green
driver CORRECTNESS row. Named queries are the fast loop while building a
new oracle-backed query; a rows-only one prints its row count. Run the
`all` mode at sf0.01 AND sf0.1 after touching any aggregate or rotating
window entries (CLAUDE.md discipline). The session comes from
``session.get_spark``, so SPARK_GRAFT_CPUS and SPARK_GRAFT_DRIVER_MEM
size it. Exits 1 if any checked query fails.
"""
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
sys.path.insert(0, os.path.join(_REPO, "tests"))

from test_oracle_parity import canon, run_oracle  # reuse the gate's compare
import __spark_entry__ as entrymod
from learn_etl_data_warehouse_spark.session import get_spark

sf_dir, names = sys.argv[1], sys.argv[2:]
spark = get_spark(app_name="letl-dw-sweep-oracle")
spark.sparkContext.setLogLevel("ERROR")

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()
if names == ["all"]:
    names = [n for n in QUERIES if n in ORACLES]  # every oracle-backed query
elif not names:
    names = list(entrymod.WINDOW)

bad = []
for i, name in enumerate(names):
    t0 = time.perf_counter()
    try:
        sdf = QUERIES[name](spark, sf_dir).toPandas()
        if name not in ORACLES:
            print(f"{i:2d} {name}: rows-only rows={len(sdf)}")
            continue
        odf = run_oracle(ORACLES[name], sf_dir)
        s_cols, s_rows = canon(sdf)
        o_cols, o_rows = canon(odf)
        if s_cols != o_cols:
            bad.append((name, f"cols {s_cols} != {o_cols}"))
            print(f"{i:2d} {name}: COLS MISMATCH")
        elif len(s_rows) != len(o_rows):
            bad.append((name, f"rows {len(s_rows)} != {len(o_rows)}"))
            print(f"{i:2d} {name}: ROWCOUNT {len(s_rows)} != {len(o_rows)}")
        else:
            mm = [x for x in zip(s_rows, o_rows) if x[0] != x[1]]
            if mm:
                bad.append((name, f"values: {mm[:1]}"))
                print(f"{i:2d} {name}: VALUE MISMATCH {mm[:1]}")
            else:
                print(f"{i:2d} {name}: OK rows={len(s_rows)} {time.perf_counter()-t0:.1f}s")
    except Exception as ex:
        bad.append((name, repr(ex)[:300]))
        print(f"{i:2d} {name}: ERROR {repr(ex)[:300]}")
    sys.stdout.flush()

print(f"\nSWEEP {sf_dir}: {len(names) - len(bad)}/{len(names)} green")
for name, why in bad:
    print("  FAIL", name, why)
sys.exit(1 if bad else 0)
