"""Maintenance layer (SURVEY.md §2.11): commit-log observability in
``commitlog``, streaming progress capture in ``listener`` and state
stores as DataFrames in ``state``. OPTIMIZE / Z-ORDER / VACUUM are
``delta.DeltaishTable.optimize``, ``zorder_by`` and ``vacuum``."""

from . import commitlog

__all__ = ["commitlog"]
