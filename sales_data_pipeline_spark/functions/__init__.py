"""Scalar / vector / hashing column functions (all JVM-side built-ins)."""
