"""Open-loop binlog appender for the ``live_tail`` workload.

Run as its own process::

    python3 appender.py PLAN_DIR LOG_DIR T0 RATE OUT_JSON

``PLAN_DIR`` holds the generator's ``plan.bin`` (pre-encoded bytes) and
``plan.json`` (the files, each with its head, per-transaction slices
and trailing ROTATE). Transaction ``i`` is due at ``T0 + i / RATE``
(epoch seconds) whether or not the consumer keeps up; the appender
writes each slice to the active file in ``LOG_DIR`` as soon as it is
due, seals a file with its ROTATE event before creating the next, and
writes one record per transaction to ``OUT_JSON`` at exit: gno, file
seq, end offset in its file, due time and the time the write finished.
It imports nothing from the package.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main(plan_dir: str, log_dir: str, t0: float, rate: float, out_json: str) -> None:
    with open(os.path.join(plan_dir, "plan.json")) as fh:
        files = json.load(fh)
    with open(os.path.join(plan_dir, "plan.bin"), "rb") as fh:
        blob = fh.read()
    log = []
    i = 0
    for f in files:
        path = os.path.join(log_dir, f["name"])
        fd = None
        try:
            for gno, off, length, end, _images in f["txns"]:
                due = t0 + i / rate
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                if fd is None:
                    fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
                    h_off, h_len = f["head"]
                    os.write(fd, blob[h_off : h_off + h_len])
                os.write(fd, blob[off : off + length])
                log.append([gno, f["seq"], end, due, time.time()])
                i += 1
            t_off, t_len = f["tail"]
            if t_len:
                os.write(fd, blob[t_off : t_off + t_len])
        finally:
            if fd is not None:
                os.close(fd)
    with open(out_json, "w") as fh:
        json.dump(log, fh)


if __name__ == "__main__":
    plan_dir, log_dir, t0, rate, out_json = sys.argv[1:6]
    main(plan_dir, log_dir, float(t0), float(rate), out_json)
