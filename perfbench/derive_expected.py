#!/usr/bin/env python3
"""Derive perfbench/expected_rows.json: the row count of every mix query on
the benchmark's tables, from the DuckDB oracle (`SparkEntry.oracleSql`), so
each count is a check independent of Spark. A mix query without oracle SQL
is an error. Run once, from the root of a checkout, whenever the mixes or the
tables change:

    python3 perfbench/derive_expected.py
"""
import json
import subprocess
import sys
from pathlib import Path

import duckdb

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402


def main():
    opts, cp = run.build()
    dump = run.BUILD / 'oracle_dump.json'
    subprocess.run(['java', *opts, *run.JVM_HEAP,
                    f'-Dlog4j2.configurationFile={run.HERE / "log4j2.properties"}',
                    '-cp', cp, 'perfbench.OracleDump', str(run.TABLES), str(dump)],
                   check=True, stdin=subprocess.DEVNULL)
    queries = json.loads(dump.read_text())
    con = duckdb.connect()
    con.execute("SET timezone='UTC'")
    for t in sorted(p.stem for p in run.TABLES.glob('*.parquet')):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{run.TABLES / t}.parquet'")
    missing = sorted(n for n, q in queries.items() if not q['sql'])
    if missing:
        sys.exit(f'no oracle SQL for {", ".join(missing)}')
    rows, disagree = {}, []
    for name, q in sorted(queries.items()):
        rows[name] = len(con.execute(q['sql']).fetchall())
        if rows[name] != q['spark_rows']:
            disagree.append(f"{name}: duckdb {rows[name]}, spark {q['spark_rows']}")
    out = run.HERE / 'expected_rows.json'
    out.write_text(json.dumps({'tables': 'sf0.01', 'rows': rows},
                              indent=1, sort_keys=True) + '\n')
    print(f'wrote {out.relative_to(run.ROOT)}: {len(rows)} queries from the DuckDB oracle')
    for d in disagree:
        print(f'DISAGREE {d}')
    sys.exit(1 if disagree else 0)


if __name__ == '__main__':
    main()
