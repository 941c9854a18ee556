"""Parity references for the engine's vectorized operators.

Each module mirrors one engine module and holds the slower variant an
engine operator replaced: the interpreted JVM-expression or per-row
implementation that the parity tests compare the engine against on the
same data.  Nothing here is engine code; the engine never imports it.
"""
