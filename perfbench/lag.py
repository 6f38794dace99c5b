"""Visible lag of appended transactions, from micro-batch progress.

A transaction ``(gno, file seq, end byte in its file, due time, ...)``
is visible at the receipt time of the first progress event whose
source end offset ``{"seq", "pos"}`` covers its end byte: a later file,
or the same file at or past the end byte. Its lag is that time minus
its due time (open loop: a stall delays every later transaction).
"""

from __future__ import annotations

import json


def end_offset(progress) -> tuple[int, int]:
    """(seq, pos) of a StreamingQueryProgress's single source."""
    off = json.loads(progress.sources[0].endOffset)
    return int(off["seq"]), int(off["pos"])


def covers(offset: tuple[int, int], seq: int, end: int) -> bool:
    return offset[0] > seq or (offset[0] == seq and offset[1] >= end)


def visible_lags(appended: list, progress: list) -> list[float | None]:
    """Per appended transaction (in append order), seconds from due to
    visible, or None if no progress event covers it. ``progress`` is a
    list of (receipt time, seq, pos) in arrival order."""
    out: list[float | None] = []
    i = 0
    for _gno, seq, end, due, *_rest in appended:
        while i < len(progress) and not covers(progress[i][1:], seq, end):
            i += 1
        out.append(progress[i][0] - due if i < len(progress) else None)
    return out
