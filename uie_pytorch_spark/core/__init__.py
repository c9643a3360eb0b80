"""Pure-NumPy kernel math shared by the Spark UDFs and the eager test
oracle. No Spark imports allowed in this subpackage — everything here
runs inside executor Python workers via Arrow batches."""

import ctypes
import glob
import os


def preferred_blas_coretype() -> str | None:
    """The OpenBLAS kernel family this host should run.

    OpenBLAS DYNAMIC_ARCH picks its kernel from the CPUID model
    string; hypervisors that mask the model (this sandbox reports the
    generic "Intel(R) Xeon(R) Processor") make it fall back to a
    pre-AVX kernel — measured 30 GFLOP/s sgemm where the SKYLAKEX
    kernel does 135 GFLOP/s on the same core (a 4.4x GEMM gap; the
    encoder forward is ~2.2x end-to-end). Pinning the kernel from the
    CPU *flags* (which hypervisors pass through) instead of the model
    string both fixes the speed and makes float ULPs reproducible
    across same-ISA hosts — the round-6 golden re-freeze happened
    precisely because auto-detection drifted with a host change.

    Returns None when /proc/cpuinfo is unreadable or the ISA is below
    AVX2 (let OpenBLAS decide).
    """
    try:
        with open("/proc/cpuinfo") as f:
            flags: set = set()
            for line in f:
                if line.startswith("flags"):
                    flags = set(line.split(":", 1)[1].split())
                    break
    except OSError:
        return None
    if {"avx512f", "avx512dq", "avx512bw", "avx512vl"} <= flags:
        return "SKYLAKEX"
    if "avx2" in flags and "fma" in flags:
        return "HASWELL"
    return None


def blas_env_vars() -> dict:
    """Env vars every kernel-running process must agree on (driver
    eager oracle, freeze scripts, Spark Python workers): single BLAS
    thread + a deterministic OpenBLAS kernel family. UIEEngine copies
    these into ``sc.environment`` so workers of ANY SparkSession load
    the same kernels (the kernel family on a local master only)."""
    env = {
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
    }
    ct = os.environ.get("OPENBLAS_CORETYPE") or preferred_blas_coretype()
    if ct:
        env["OPENBLAS_CORETYPE"] = ct
    return env


def pin_blas_single_thread() -> None:
    """Force BLAS to one thread per process and pin the OpenBLAS
    kernel family (see preferred_blas_coretype).

    Spark runs one Python worker per core; nested OpenBLAS threading
    oversubscribes the box (and changes GEMM reduction order, breaking
    float determinism vs the eager oracle). Env vars only work BEFORE
    numpy first loads, which we can't guarantee inside a Spark worker
    (pyspark may import pandas/numpy first), so for the thread count we
    also flip the runtime switch on the already-loaded OpenBLAS via
    ctypes — best effort. The kernel family has no runtime switch: for
    workers it is delivered via the process environment instead
    (engine injects blas_env_vars() into ``sc.environment`` before the
    inference UDF is created, so worker daemons start with it)."""
    for var, val in blas_env_vars().items():
        os.environ.setdefault(var, val)
    try:
        import numpy as np

        libs_dir = os.path.join(os.path.dirname(np.__file__), "..", "numpy.libs")
        for so in glob.glob(os.path.join(libs_dir, "libscipy_openblas*.so*")) + glob.glob(
            os.path.join(libs_dir, "libopenblas*.so*")
        ):
            try:
                lib = ctypes.CDLL(so)
                for fn in (
                    "openblas_set_num_threads64_",  # ILP64 build (numpy wheels)
                    "openblas_set_num_threads",
                    "scipy_openblas_set_num_threads",
                ):
                    if hasattr(lib, fn):
                        getattr(lib, fn)(1)
                        return
            except OSError:
                continue
    except Exception:
        pass


pin_blas_single_thread()
