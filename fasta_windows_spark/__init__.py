"""fasta_windows_spark: PySpark-native streaming window-statistics engine
(see README.md / SURVEY.md). Public API re-exports."""

from .kernels import (  # noqa: F401
    ctw_bits_per_base,
    entropy6,
    kmer_names,
    kmer_vector,
    kt0_bits_per_base,
    page_window_stats,
    reverse_complement,
    shannon_diversity,
    stats_table,
    window_bounds,
)

__version__ = "0.1.0"


def get_spark(*a, **kw):
    from .session import get_spark as _g

    return _g(*a, **kw)


def window_stats(*a, **kw):
    from .functions.udfs import window_stats as _w

    return _w(*a, **kw)
