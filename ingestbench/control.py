"""Pure-CPU control: md5-chain tasks per second on N worker processes,
no Spark. Read next to a run's numbers to see host contention.

    python3 ingestbench/control.py <n_proc>
"""

import hashlib
import sys
import time
from multiprocessing import get_context


def task(_):
    h = b"x" * 64
    for _ in range(100_000):
        h = hashlib.md5(h).digest()
    return 1


if __name__ == "__main__":
    n = int(sys.argv[1])
    with get_context("spawn").Pool(n) as pool:
        pool.map(task, range(n))  # workers started and warm
        t0 = time.perf_counter()
        pool.map(task, range(2 * n))
        print(2 * n / (time.perf_counter() - t0))
