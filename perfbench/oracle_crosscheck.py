#!/usr/bin/env python3
"""Tie the analytics queries' expected digests to the DuckDB oracle.

Usage (from the repository root):

    python3 perfbench/oracle_crosscheck.py [--write]

Dumps the analytics queries' results with graft.Verify, checks them with
scripts/oracle_check.py against the DuckDB oracle (every query that has
oracleSql; the others are row-count-only there), and checks that the
digests of those same results equal perfbench/expected/. Exit 1 on any
mismatch. With --write, the digests replace perfbench/expected/ instead,
but only when the oracle accepted every result. Otherwise writes only
under .bench_build/.
"""
import argparse
import json
import re
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
import run  # noqa: E402

SF = "sf0.01"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--write", action="store_true",
                    help="store the oracle-accepted digests as the expected ones")
    args = ap.parse_args()
    classpath = run.build(run.spark_jars())
    src = (run.HERE / "scala" / "Analytics.scala").read_text()
    queries = re.findall(r'"([a-z0-9]+_[a-z0-9_]+)"', src[src.index("val Iterative"):src.index("def set(")])
    data = run.test_data() / SF
    work = run.ROOT / ".bench_build" / "oracle"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    jvm = ["java", "-XX:-UsePerfData", "-Xmx3g", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work}/tmp",
           f"-Dderby.system.home={work}", f"-Dspark.sql.warehouse.dir={work}/warehouse",
           f"-Dspark.local.dir={work}/tmp"]
    jvm += [x for p in run.ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    jvm += ["-cp", classpath]
    try:
        dump = work / "dump"
        subprocess.run(jvm + ["graft.Verify", str(data), str(dump)] + queries,
                       cwd=work, check=True, stdout=subprocess.DEVNULL)
        oracle = subprocess.run(
            [sys.executable, str(run.ROOT / "scripts" / "oracle_check.py"), str(data), str(dump)],
            stdout=subprocess.PIPE, text=True)
        print(oracle.stdout, end="")
        ok = oracle.returncode == 0
        out = subprocess.run(jvm + ["graftbench.DigestDump", str(dump)] + queries,
                             cwd=work, check=True, stdout=subprocess.PIPE, text=True).stdout
        got = {q: {"rows": int(rows), "digest": digest}
               for q, rows, digest in (line.split() for line in out.splitlines())}
        expected = run.HERE / "expected" / f"analytics-{SF}.json"
        if args.write:
            if not ok:
                print("oracle check failed; expected digests left unchanged")
                sys.exit(1)
            expected.write_text("{\n" + ",\n".join(
                f'  "{q}": {json.dumps(got[q])}' for q in sorted(got)) + "\n}\n")
            print(f"wrote {len(got)} digests to {expected.relative_to(run.ROOT)}")
            sys.exit(0)
        want = json.loads(expected.read_text())
        for q, g in got.items():
            good = want.get(q) == g
            ok &= good
            print(f"{'OK  ' if good else 'FAIL'} digest {q}: {g}, expected {want.get(q)}")
        sys.exit(0 if ok else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
