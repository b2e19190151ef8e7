"""Registry of the benchmark workloads, by name."""

from corpus_curate import CorpusCurate
from genome_scan import GenomeScan
from index_serve import IndexServe

WORKLOADS = {w.name: w for w in (GenomeScan, CorpusCurate, IndexServe)}
