#!/usr/bin/env python3
"""Derive ``digests.json``: for every spec of the ``specs_mix`` list,
check it against its DuckDB oracle with ``oracle.compare`` on
``data/sf0.01`` and record the row count, columns and order-independent
hash of the (oracle-equal) Spark result. The hash must repeat across two shuffle
layouts, so it does not depend on the core count a run uses.

    python3 perfbench/make_digests.py      # from the repository root
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.getcwd())

import harness  # noqa: E402
import spec_mix  # noqa: E402


def main() -> int:
    from kassette_server_spark.oracle import compare
    from kassette_server_spark.queries import all_specs
    from kassette_server_spark.session import default_parallelism

    run_dir = harness.fresh_dir(os.path.join(harness.WORK_ROOT, "digests"))
    spark = harness.start_spark(run_dir, event_log=False)
    specs = all_specs()
    out, bad = {}, []
    for name in spec_mix.CORE + spec_mix.HEAVY:
        r = compare(spark, specs[name], spec_mix.DATA)
        if not r.ok:
            bad.append(f"{name}: {r.detail}")
            continue
        digests = []
        for parts in ("4", "1"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            digests.append(spec_mix.digest(specs[name].fn(spark, spec_mix.DATA)))
        spark.conf.set("spark.sql.shuffle.partitions", str(default_parallelism()))
        if digests[1] != digests[0]:
            bad.append(f"{name}: hash differs across shuffle layouts")
            continue
        out[name] = dict(digests[0], oracle="exact" if specs[name].oracle else "rows-only")
        print(name, out[name], flush=True)
    spark.stop()
    if bad:
        print("not recorded:\n" + "\n".join(bad), file=sys.stderr)
        return 1
    with open(spec_mix.DIGESTS, "w") as f:
        json.dump({"data": "data/sf0.01", "specs": out}, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
