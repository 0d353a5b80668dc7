"""Times the program's set-up steps that need no Spark session: importing
the package and ``registry.load_all()``, one after the other, as the
program's entry points run them.

run.py starts this in a process of its own while it starts Spark and warms
it up, so the two share no interpreter. Run from the root of a checkout
with the root on ``PYTHONPATH``; prints one JSON line with the
``time.perf_counter()`` readings (the system's monotonic clock, which run.py
reads too) at the start and end of each step.
"""

from __future__ import annotations

import json
import time


def main() -> None:
    t0 = time.perf_counter()
    from ab_inbev_big_data_case_spark import registry

    t1 = time.perf_counter()
    registry.load_all()
    t2 = time.perf_counter()
    print(json.dumps({"import": [t0, t1], "registry.load_all": [t1, t2]}), flush=True)


if __name__ == "__main__":
    main()
