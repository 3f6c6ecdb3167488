"""Reusable column functions (engine-agnostic, reproducible hashing)."""

from .columns import md5_long
