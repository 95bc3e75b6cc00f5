"""Shared mapInPandas group-streaming helper.

``stream_groups`` is the carry-buffer core of every streaming kernel in
the engine (rollup.rollup_wide, chunks.encode_chunks): the
input iterator yields key-sorted Arrow batches, and groups may be split
across batch boundaries. The trailing (possibly incomplete) group of
each batch is held back in a LIST of frames and concatenated exactly
once, when its boundary is found — a group spanning B batches costs
O(B) row copies, not the O(B²) of re-concatenating the carry into every
subsequent batch (whale conversations in the 'conv' tier span many
batches).
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator, Sequence

import numpy as np
import pandas as pd


def stream_groups(batches: Iterable[pd.DataFrame],
                  grp_cols: Sequence[str],
                  emit: Callable[[pd.DataFrame], pd.DataFrame],
                  ) -> Iterator[pd.DataFrame]:
    """Yield ``emit(frame)`` over maximal runs of COMPLETE groups.

    ``emit`` receives frames whose rows cover one or more whole groups
    (never a partial group); it must handle multiple groups per call
    (all engine kernels detect boundaries internally).
    """
    carry: list[pd.DataFrame] = []
    for pdf in batches:
        if not len(pdf):
            continue
        # NULL group keys break the equality-based boundary detection
        # below in dtype-dependent ways (NaN/NaT compare unequal to
        # themselves → one logical group silently splits into per-row
        # groups; an all-NaN suffix makes the carried tail EMPTY, and a
        # later `carry[-1].iloc[-1]` raises IndexError). No engine
        # kernel groups on nullable keys, so fail loudly at the boundary
        # instead of emitting wrong group splits.
        for c in grp_cols:
            if pdf[c].isna().any():
                raise ValueError(
                    f"stream_groups: NULL in group-key column {c!r}; "
                    "group keys must be non-null (filter or fill "
                    "upstream of the kernel)")
        # rows are key-sorted, so the last group is a contiguous
        # suffix: hold it back — it may continue in the next batch
        same_last = np.ones(len(pdf), dtype=bool)
        for c in grp_cols:
            v = pdf[c].to_numpy()
            same_last &= v == v[-1]
        nz = np.flatnonzero(~same_last)
        cut = int(nz[-1] + 1) if nz.size else 0
        head, tail = pdf.iloc[:cut], pdf.iloc[cut:]
        if carry:
            prev = carry[-1]
            continues = all(prev[c].iloc[-1] == pdf[c].iloc[0]
                            for c in grp_cols)
            if continues and cut == 0:
                carry.append(pdf)  # one open group, still growing
                continue
            if continues:
                # carried group completes inside `head`
                yield emit(pd.concat(carry + [head], ignore_index=True))
            else:
                yield emit(pd.concat(carry, ignore_index=True)
                           if len(carry) > 1 else carry[0])
                if cut:
                    yield emit(head)
            carry = [tail]
        else:
            if cut:
                yield emit(head)
            carry = [tail]
    if carry:
        yield emit(pd.concat(carry, ignore_index=True)
                   if len(carry) > 1 else carry[0])
