"""Query registry behind ``__spark_entry__``; import the front door, not
these parts.

The parts form one chain, ``part01`` → ``part14`` → ``__spark_entry__``,
and every part follows the same two rules:

- it opens with ``from …registry.partNN import *`` of its predecessor,
  and imports nothing else from another part;
- it ends with ``__all__ = [n for n in globals() if not n.startswith("__")]``,
  so every name bound so far, underscore helpers included, reaches the
  next part and the front door.

So every call-time name resolves as it did in the former single module.
No top-level name is defined in two parts, so no export shadows another
(``tests/test_entry_contract.py`` holds both rules).
"""
