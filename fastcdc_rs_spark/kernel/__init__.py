"""Numpy kernels: FastCDC chunking, MinHash/SimHash signatures."""

from .fastcdc import (
    AVERAGE_MAX,
    AVERAGE_MIN,
    MAXIMUM_MAX,
    MAXIMUM_MIN,
    MINIMUM_MAX,
    MINIMUM_MIN,
    ChunkerConfig,
    chunk_bytes,
    cut,
    logarithm2,
)
from .gear import GEAR, GEAR_LS, MASKS, gear_with_seed

__all__ = [
    "AVERAGE_MAX",
    "AVERAGE_MIN",
    "GEAR",
    "GEAR_LS",
    "MASKS",
    "MAXIMUM_MAX",
    "MAXIMUM_MIN",
    "MINIMUM_MAX",
    "MINIMUM_MIN",
    "ChunkerConfig",
    "chunk_bytes",
    "cut",
    "gear_with_seed",
    "logarithm2",
]
