#!/usr/bin/env python3
"""The benchmark's own tests: builds like run.py, then runs the Scala
self-test and checks the table generator and the oracle comparison.

    python3 e2ebench/test.py
"""
import os
import subprocess
import sys
import tempfile

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pandas as pd  # noqa: E402

import oracle  # noqa: E402
import run  # noqa: E402
import tables  # noqa: E402


def main():
    failures = 0

    def check(name, ok):
        nonlocal failures
        failures += not ok
        print(("PASS " if ok else "FAIL ") + name)

    with tempfile.TemporaryDirectory(dir=os.path.join(run.ROOT, ".bench_work")) as tmp:
        a, b = os.path.join(tmp, "a"), os.path.join(tmp, "b")
        tables.generate(a, 3)
        tables.generate(b, 3)
        check("the same seed writes the same tables",
              all(pd.read_parquet(os.path.join(a, f)).equals(pd.read_parquet(os.path.join(b, f)))
                  for f in os.listdir(a)))
        df = pd.DataFrame({"x": [1.5, 2.5], "y": ["a", "b"]})
        check("oracle: row order does not matter",
              oracle.compare(df, df.iloc[::-1].reset_index(drop=True)) is None)
        check("oracle: any float difference fails",
              oracle.compare(df, df.assign(x=[1.5, 2.5000001])) is not None)
        check("oracle: a missing row fails", oracle.compare(df, df.iloc[:1]) is not None)

        run_dir = os.path.join(tmp, "jvm")
        os.makedirs(run_dir)
        classpath = run.build()
        cmd = ["java"] + [x for p in run.JVM_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
        cmd += [f"-Djava.io.tmpdir={run_dir}", f"-Dspark.local.dir={run_dir}",
                f"-Dspark.sql.warehouse.dir={run_dir}/warehouse", "-Xmx2g",
                "-cp", classpath, "e2ebench.SelfTest"]
        p = subprocess.run(cmd, cwd=run_dir, capture_output=True, text=True, timeout=600)
        print("".join(l + "\n" for l in p.stdout.splitlines() if l[:4] in ("PASS", "FAIL", "  ")), end="")
        check("scala self-test exits 0", p.returncode == 0)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    os.makedirs(os.path.join(run.ROOT, ".bench_work"), exist_ok=True)
    main()
