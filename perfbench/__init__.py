"""Repository benchmark: three user jobs (batch graph build, iterative event
search, daily append) measured through the package's public functions on
seeded, generated inputs. Entry point: ``python3 perfbench/run.py``; see
``perfbench/README.md``."""
