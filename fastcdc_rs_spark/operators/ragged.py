"""Arrow ↔ ragged batch: the one format that crosses the kernel boundary.

A ragged batch is a flat value array plus per-doc counts. An Arrow
string, binary or list array stores exactly that (one value buffer plus
offsets), so the kernel UDFs hand its buffers to the kernels in place and
build their list outputs from the kernels' flat arrays: no per-doc Python
object on either side. NULL rows are empty docs.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

__all__ = ["list_array", "ragged"]


def ragged(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """``(values, counts)`` of a string/binary column (utf-8 bytes as
    uint8) or an ``array<long>`` column (u64 bit patterns as uint64)."""
    t = arr.type
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        if t.value_type != pa.int64():
            raise TypeError(f"kernel lists hold int64, not {t.value_type}")
        values = arr.flatten()  # slice-aware, skips NULL rows' spans
        if values.null_count:
            raise ValueError("NULL element in a unit-hash list")
        counts = np.diff(arr.offsets.to_numpy()).astype(np.int64)
        counts[arr.is_null().to_numpy(zero_copy_only=False)] = 0
        return values.to_numpy().view(np.uint64), counts
    if not (pa.types.is_string(t) or pa.types.is_large_string(t)
            or pa.types.is_binary(t) or pa.types.is_large_binary(t)):
        raise TypeError(f"kernel input must be text or binary, not {t}")
    if len(arr) == 0:  # an IPC writer may omit a zero-length offsets buffer
        return np.empty(0, np.uint8), np.zeros(0, np.int64)
    # one layout for all four types; the data buffer is shared, not copied
    arr = arr.cast(pa.large_binary())
    if arr.null_count:
        arr = arr.fill_null(b"")  # compacts the bytes NULL rows may span
    _, offs, data = arr.buffers()
    offs = np.frombuffer(offs, np.int64, len(arr) + 1, arr.offset * 8)
    data = np.frombuffer(data, np.uint8) if data else np.empty(0, np.uint8)
    return data[offs[0]:offs[-1]], np.diff(offs)


def list_array(values: np.ndarray, counts: np.ndarray, list_type: pa.DataType) -> pa.Array:
    """Ragged ``(values, counts)`` → an Arrow list array of ``list_type``."""
    offs = np.zeros(len(counts) + 1, dtype=np.int32)
    np.cumsum(counts, out=offs[1:])
    return pa.ListArray.from_arrays(pa.array(offs), pa.array(values), type=list_type)
