from .txnlog import ConcurrentModificationError, TxnTable, clone_shallow

__all__ = ["ConcurrentModificationError", "TxnTable", "clone_shallow"]
