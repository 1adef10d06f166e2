"""Layered encode/decode benchmark; entry point perfbench/run.py."""
