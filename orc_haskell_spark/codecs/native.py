"""Compile-on-first-use loader for the C hot-path kernels.

The container ships a system C compiler but no build frontend, so the
kernel source lives in the package (fsst_kernel.c) and is compiled once
per machine into a content-addressed .so under a cache directory
(ORC_HS_NATIVE_DIR, default /tmp/orc_haskell_spark_native-$UID). Every
Spark Python worker loads the same cached artifact; concurrent first
compiles race benignly (each builds to a temp name, os.replace is
atomic, last one wins with identical bytes).

If anything fails — no compiler, sandboxed exec, exotic platform — the
numpy implementations in fsst.py take over unchanged, after one
"orc_haskell_spark.native" WARNING per process that names the failed
step; correctness never depends on this module (ORC_HS_NO_NATIVE=1
forces the fallback quietly, used by tests to cover both paths).
"""

from __future__ import annotations

import ctypes
import hashlib
import logging
import os
import subprocess
import sys
import tempfile

_SRC_NAMES = ["fsst_kernel.c", "bitpack_kernel.c", "rle2_kernel.c",
              "rle2_encode_kernel.c", "rle1_kernel.c", "byte_rle_kernel.c",
              "frontcode_kernel.c", "alp_kernel.c", "extract_kernel.c",
              "html_entities_gen.c"]


def _read_sources() -> list[bytes]:
    """Kernel sources via pkgutil so a spark-submit --py-files ZIP
    deployment works too (plain open() can't read from inside a zip)."""
    import pkgutil

    out = []
    for name in _SRC_NAMES:
        data = pkgutil.get_data(__package__, name)
        if data is None:
            raise FileNotFoundError(name)
        out.append(data)
    return out
_lib: ctypes.CDLL | None = None
_tried = False
_log = logging.getLogger("orc_haskell_spark.native")


def _cache_dir() -> str:
    d = os.environ.get("ORC_HS_NATIVE_DIR") or os.path.join(
        tempfile.gettempdir(),
        f"orc_haskell_spark_native-{os.getuid()}")
    os.makedirs(d, exist_ok=True)
    return d


def _compile(sources: list[bytes], out_path: str) -> None:
    cache = os.path.dirname(out_path)
    # per-process source copies: concurrent first compiles must never
    # share writable paths (a truncate-while-cc-reads race could cache
    # a torn artifact under the pristine content hash forever)
    pid = os.getpid()
    src_paths = []
    for name, data in zip(_SRC_NAMES, sources):
        p = os.path.join(cache, f"pid{pid}-{name}")  # keep the .c suffix
        with open(p, "wb") as f:
            f.write(data)
        src_paths.append(p)
    tmp = tempfile.NamedTemporaryFile(
        suffix=".so", dir=cache, delete=False)
    tmp.close()
    base = ["cc", "-O3", "-shared", "-fPIC", "-o", tmp.name] + src_paths
    try:
        try:
            subprocess.run(base[:2] + ["-march=native"] + base[2:],
                           check=True, capture_output=True, timeout=120)
        except (subprocess.CalledProcessError, FileNotFoundError):
            subprocess.run(base, check=True, capture_output=True,
                           timeout=120)
        os.replace(tmp.name, out_path)
    finally:
        for p in src_paths + [tmp.name]:
            if os.path.exists(p):
                os.unlink(p)


def load() -> ctypes.CDLL | None:
    """The kernels library, or None (-> numpy fallback). Cached; a
    failure logs one WARNING naming the step (compile, dlopen or symbol
    setup)."""
    global _lib, _tried
    if _tried:
        return _lib
    _tried = True
    if os.environ.get("ORC_HS_NO_NATIVE") == "1":
        return None
    if sys.byteorder != "little":  # kernels assume LE loads
        _log.warning("native kernels disabled on a big-endian host; "
                     "using the numpy fallbacks")
        return None
    step = "compile"
    try:
        sources = _read_sources()
        h = hashlib.sha256()
        for s in sources:
            h.update(s)
        so = os.path.join(_cache_dir(), f"kernels_{h.hexdigest()[:16]}.so")
        if not os.path.exists(so):
            _compile(sources, so)
        step = "dlopen"
        lib = ctypes.CDLL(so)
        step = "symbol setup"
        u8p = ctypes.POINTER(ctypes.c_uint8)
        lib.fsst_compress.restype = ctypes.c_long
        lib.fsst_compress.argtypes = [
            u8p, ctypes.c_long,
            ctypes.POINTER(ctypes.c_uint64), ctypes.POINTER(ctypes.c_uint16),
            ctypes.POINTER(ctypes.c_int16), ctypes.POINTER(ctypes.c_int16),
            u8p]
        lib.fsst_parse.restype = ctypes.c_long
        lib.fsst_parse.argtypes = [
            u8p, ctypes.c_long,
            ctypes.POINTER(ctypes.c_uint64), ctypes.POINTER(ctypes.c_uint16),
            ctypes.POINTER(ctypes.c_int16), ctypes.POINTER(ctypes.c_int16),
            ctypes.POINTER(ctypes.c_int32), ctypes.POINTER(ctypes.c_int16),
            u8p]
        lib.fsst_decompress.restype = ctypes.c_long
        lib.fsst_decompress.argtypes = [
            u8p, ctypes.c_long, u8p,
            ctypes.POINTER(ctypes.c_int64), ctypes.POINTER(ctypes.c_int64),
            ctypes.c_long, u8p]
        lib.orc_pack_width.restype = None
        lib.orc_pack_width.argtypes = [
            ctypes.POINTER(ctypes.c_uint64), ctypes.c_long, ctypes.c_int,
            u8p]
        lib.orc_unpack_width.restype = None
        lib.orc_unpack_width.argtypes = [
            u8p, ctypes.c_long, ctypes.c_int,
            ctypes.POINTER(ctypes.c_uint64)]
        lib.rle2_decode.restype = ctypes.c_long
        lib.rle2_decode.argtypes = [
            u8p, ctypes.c_long, ctypes.c_int,
            ctypes.POINTER(ctypes.c_uint64), ctypes.c_long]
        lib.rle2_encode.restype = ctypes.c_long
        lib.rle2_encode.argtypes = [
            ctypes.POINTER(ctypes.c_uint64), ctypes.c_long, ctypes.c_int,
            u8p]
        lib.rle1_decode.restype = ctypes.c_long
        lib.rle1_decode.argtypes = [
            u8p, ctypes.c_long, ctypes.c_int,
            ctypes.POINTER(ctypes.c_uint64), ctypes.c_long]
        lib.byte_rle_decode_size.restype = ctypes.c_long
        lib.byte_rle_decode_size.argtypes = [u8p, ctypes.c_long]
        lib.byte_rle_decode.restype = ctypes.c_long
        lib.byte_rle_decode.argtypes = [u8p, ctypes.c_long, u8p,
                                        ctypes.c_long]
        lib.byte_rle_encode.restype = ctypes.c_long
        lib.byte_rle_encode.argtypes = [u8p, ctypes.c_long, u8p]
        i64p = ctypes.POINTER(ctypes.c_int64)
        lib.front_code_encode.restype = ctypes.c_long
        lib.front_code_encode.argtypes = [
            u8p, i64p, ctypes.c_long, ctypes.c_int64, i64p, u8p]
        lib.front_code_decode.restype = ctypes.c_long
        lib.front_code_decode.argtypes = [
            i64p, i64p, ctypes.c_long, u8p, ctypes.c_long, u8p]
        u64p = ctypes.POINTER(ctypes.c_uint64)
        lib.alp_encode_f8.restype = ctypes.c_long
        lib.alp_encode_f8.argtypes = [
            ctypes.POINTER(ctypes.c_double), ctypes.c_long,
            ctypes.c_double, ctypes.c_double, ctypes.c_double,
            ctypes.c_double, i64p, u64p, ctypes.POINTER(ctypes.c_double)]
        lib.alp_encode_f4.restype = ctypes.c_long
        lib.alp_encode_f4.argtypes = [
            ctypes.POINTER(ctypes.c_float), ctypes.c_long,
            ctypes.c_double, ctypes.c_double, ctypes.c_double,
            ctypes.c_double, i64p, u64p, ctypes.POINTER(ctypes.c_float)]
        u16p = ctypes.POINTER(ctypes.c_uint16)
        lib.alp_rd_encode_f8.restype = ctypes.c_long
        lib.alp_rd_encode_f8.argtypes = [
            ctypes.POINTER(ctypes.c_double), ctypes.c_long, ctypes.c_int,
            u16p, ctypes.c_int, u64p, u64p, u64p, u16p]
        lib.alp_rd_encode_f4.restype = ctypes.c_long
        lib.alp_rd_encode_f4.argtypes = [
            ctypes.POINTER(ctypes.c_float), ctypes.c_long, ctypes.c_int,
            u16p, ctypes.c_int, u64p, u64p, u64p, u16p]
        lib.alp_rd_decode.restype = ctypes.c_long
        lib.alp_rd_decode.argtypes = [
            u64p, u64p, ctypes.c_int, u16p, ctypes.c_long, ctypes.c_long,
            u64p]
        lib.alp_choose_pair.restype = None
        lib.alp_choose_pair.argtypes = [
            ctypes.POINTER(ctypes.c_double), ctypes.c_void_p, ctypes.c_int,
            ctypes.c_long, ctypes.POINTER(ctypes.c_double),
            ctypes.POINTER(ctypes.c_double), ctypes.POINTER(ctypes.c_double),
            ctypes.c_long, i64p, i64p, i64p]
        i64p = ctypes.POINTER(ctypes.c_int64)
        lib.html_extract_batch.restype = ctypes.c_long
        lib.html_extract_batch.argtypes = [
            u8p, i64p, ctypes.c_long,
            i64p, i64p, i64p, u8p,
            i64p, i64p,
            i64p, i64p, i64p, u8p,
            ctypes.c_long, ctypes.c_long]
        _lib = lib
    except Exception as e:
        _log.warning("native kernels unavailable (%s failed: %s: %s); "
                     "using the numpy fallbacks", step, type(e).__name__, e)
        _lib = None
    return _lib


def ptr(arr, ctype):
    """numpy array -> ctypes pointer (no copy; caller keeps arr alive)."""
    return ctypes.cast(ctypes.c_void_p(arr.ctypes.data),
                       ctypes.POINTER(ctype))
