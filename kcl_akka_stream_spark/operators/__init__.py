"""Operator library: import each submodule directly (see COVERAGE.md for
the reference-inventory mapping)."""
