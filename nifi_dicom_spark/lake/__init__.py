"""Lake-table layer: the snapshot table, its commit backends and sidecars.

The re-exports below resolve lazily (PEP 562 module ``__getattr__``), so
importing one submodule loads only what that submodule needs. The
``snapshot_cdf`` source's Python runner imports ``lake.commit`` to read
the commit log; an eager ``__init__`` would also load ``snapshot_table``
(and pandas through the operators) into every fresh runner.
"""

from __future__ import annotations

import importlib

_EXPORTS = {
    "CommitBackend": "commit",
    "CommitConflict": "commit",
    "ConditionalPutCommitBackend": "commit",
    "InMemoryKVStore": "commit",
    "KVStore": "commit",
    "PosixCommitBackend": "commit",
    "TableNotFoundError": "commit",
    "CheckConstraintViolation": "snapshot_table",
    "LedgerRegression": "snapshot_table",
    "SnapshotTable": "snapshot_table",
    "VersionVacuumedError": "snapshot_table",
}

__all__ = sorted(_EXPORTS)


def __getattr__(name: str):
    mod = _EXPORTS.get(name)
    if mod is None:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    value = getattr(importlib.import_module(f"{__name__}.{mod}"), name)
    globals()[name] = value  # later lookups skip this hook
    return value
