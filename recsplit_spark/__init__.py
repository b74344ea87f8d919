"""recsplit_spark — PySpark-native RecSplit MPHF + mergeable sketch library.

A from-scratch re-expression (NOT a port) of the capabilities of
thomasmueller/minperf on idiomatic Spark: DataFrame/Column expressions for
hashing + bucketing, Arrow-vectorized pandas UDF kernels for the per-bucket
split-tree construction, an associative merge into a Rice/Golomb-coded
descriptor, plus mergeable sketch aggregations (HyperLogLog, count-min,
Bloom, KLL, t-digest, theta/KMV set operations, Misra-Gries heavy
hitters) with resumable checkpointed builds.
"""

__version__ = "0.1.0"

# every PySpark worker that unpickles a library UDF runs this module: keep
# it stdlib-only at import
from .session import install_worker_zip_cache as _install_worker_zip_cache

_install_worker_zip_cache()

def __getattr__(name):  # lazy: keep numpy-only modules importable without pyspark
    if name in ("MPHFDescriptor", "RecSplitBuilder", "build_descriptor_from_sigs"):
        from . import mphf
        return getattr(mphf, name)
    if name in ("BlockedMPHF", "BlockedMPHFBuilder"):
        from . import blocked
        return getattr(blocked, name)
    if name in ("BDZBuilder", "BDZDescriptor", "build_bdz_from_sigs"):
        from . import bdz
        return getattr(bdz, name)
    if name in ("MPHFFilter", "XorFilter", "semi_join_prefilter",
                "prefiltered_join", "prefiltered_anti_join"):
        from . import filters
        return getattr(filters, name)
    if name == "CheckpointedBuild":
        from .sketches.checkpoint import CheckpointedBuild
        return CheckpointedBuild
    if name == "IncrementalMPHF":
        from .incremental_mphf import IncrementalMPHF
        return IncrementalMPHF
    if name in ("StreamingSketch", "StreamingMPHFIngest",
                "StreamingDedupIngest", "StreamingANNIngest"):
        from . import streaming
        return getattr(streaming, name)
    if name == "IncrementalDedup":
        from .pipeline.incremental_dedup import IncrementalDedup
        return IncrementalDedup
    if name == "IncrementalANN":
        from .pipeline.incremental_ann import IncrementalANN
        return IncrementalANN
    raise AttributeError(name)
