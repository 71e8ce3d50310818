"""Sink-inclusive, layer-traced benchmark of the access-log pipeline.

``perfbench/run.py`` is the entry point (its docstring has the usage);
``perfbench/BASELINE.md`` holds the recorded baseline.
"""
