#!/usr/bin/env python3
"""Record expected.json from a dump cross-checked against the DuckDB oracle.

    python3 perfbench/oracle_check.py DUMP_DIR

Dumps every workload entry with graft.Verify at the benchmark fixture into
DUMP_DIR, runs tools/diffcheck.py over the dump (each entry's Spark result
against its DuckDB oracle), and fingerprints each dumped result the way a
benchmark run does. Writes the outcome to oracle_check.json next to this
script. Only when every entry is OK against its oracle does it write the
fingerprints to expected.json; otherwise it leaves expected.json alone and
exits 1. Needs the harness built (one run.py run does that) and the duckdb
module.
"""
import json
import os
import subprocess
import sys
from pathlib import Path

import duckdb

import run

OUT = run.HERE / "oracle_check.json"


def main():
    dump = Path(sys.argv[1]).resolve()
    run.build()
    java = ["java"] + [x for o in run.JDK17_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")] + [
        f"-Xmx{run.HEAP}", "-Dspark.ui.enabled=false", "-cp", run.CLASSPATH.read_text().strip()]
    ids = sorted({i for ops, _ in run.WORKLOADS.values() for i in ops})
    full = subprocess.run(java + ["perfbench.Entries", ",".join(ids)], check=True,
                          capture_output=True, text=True).stdout.split()
    names = dict(zip(ids, full))
    subprocess.run(java + ["graft.Verify", str(run.FIXTURE), str(dump)], check=True,
                   stdin=subprocess.DEVNULL,
                   env=dict(os.environ, SPARK_GRAFT_ONLY=",".join(full),
                            SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0)))))
    diff = subprocess.run(
        [sys.executable, str(run.ROOT / "tools" / "diffcheck.py"), str(run.FIXTURE), str(dump)],
        env=dict(os.environ, GRAFT_ONLY=",".join(names[i] for i in ids)),
        capture_output=True, text=True)
    sys.stdout.write(diff.stdout)
    status = {}
    for line in diff.stdout.splitlines():
        word, _, rest = line.partition(" ")
        if word in ("OK", "FAIL", "ROWS", "SKIP"):
            status[rest.strip().split(":")[0]] = word

    con = duckdb.connect()
    con.sql("SET TimeZone='UTC'")
    record = {}
    for i in ids:
        fp = run.fingerprint(con, dump / names[i])
        record[i] = {"entry": names[i], "diffcheck": status.get(names[i], "MISSING"),
                     "fingerprint": fp}
        print(f"{i:6s} diffcheck={record[i]['diffcheck']:4s} {fp}")
    OUT.write_text(json.dumps(record, indent=1) + "\n")
    if any(r["diffcheck"] != "OK" for r in record.values()):
        sys.exit("oracle_check: not every entry matches its oracle; expected.json left as it was")
    run.EXPECTED.write_text(json.dumps({i: r["fingerprint"] for i, r in record.items()},
                                       indent=1) + "\n")


if __name__ == "__main__":
    main()
