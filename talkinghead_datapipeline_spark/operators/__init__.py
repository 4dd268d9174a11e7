"""Composite operators (SURVEY §2.a engine ops + §7 phases 3/7/8).

Operators here are *library patterns over DataFrames* — each returns a lazy
DataFrame plan built from built-in Spark ops (Catalyst-visible), never an
eagerly-computed result. UDF-backed fallbacks exist only where exact
numpy/scipy parity is required (rolling.savgol_smooth).
"""
