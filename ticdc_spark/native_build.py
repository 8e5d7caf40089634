"""Compile a C source once per host and load it with ctypes.

The native kernels (``codec/native_accel.py``, ``llm/hnsw_native.py``)
are strict accelerators: every caller keeps a pure-Python path, so any
failure here (no compiler, sandboxed ``cc``, bad cache) returns None.

The .so is cached under a per-user 0o700 directory in the temp dir
(a world-writable shared dir would let another local user pre-plant a
.so at the predictable path), keyed by a hash of the source and the
compiler flags, so every Spark worker on the host reuses one build and
a flag change recompiles.  The write is tmp-file + atomic rename, so
concurrent builds (32 workers importing at once) race benignly.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import tempfile


def load_c_library(name: str, source: str,
                   flag_sets=(("-O3",),)) -> ctypes.CDLL | None:
    """Build ``source`` with the first of ``flag_sets`` that compiles and
    load it; None on any failure."""
    try:
        key = hashlib.sha256(
            (source + repr(flag_sets)).encode()).hexdigest()[:16]
        cache_dir = os.path.join(
            tempfile.gettempdir(),
            f"ticdc_spark_accel_{getattr(os, 'getuid', lambda: 0)()}")
        so_path = os.path.join(cache_dir, f"{name}_{key}.so")
        if not os.path.exists(so_path):
            os.makedirs(cache_dir, mode=0o700, exist_ok=True)
            c_path = os.path.join(cache_dir, f"{name}_{key}.c")
            tmp_so = os.path.join(
                cache_dir, f".{name}_{key}.{os.getpid()}.so")
            with open(c_path, "w") as f:
                f.write(source)
            for flags in flag_sets:
                proc = subprocess.run(
                    ["cc", *flags, "-fPIC", "-shared", "-o", tmp_so, c_path],
                    capture_output=True, timeout=120)
                if proc.returncode == 0:
                    break
            else:
                return None
            os.rename(tmp_so, so_path)  # atomic on same filesystem
        return ctypes.CDLL(so_path)
    except Exception:  # noqa: BLE001 — accelerator only, never required
        return None
