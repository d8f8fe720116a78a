"""Parent-vs-change benchmark for sparc: see perfbench/README.md."""
