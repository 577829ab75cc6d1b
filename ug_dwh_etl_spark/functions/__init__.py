"""Expression-macro library — the reference's scalar-transform surface.

Every row-wise pandas ``.apply`` lambda in the reference is re-expressed
here as a native Spark Column expression (JVM-side, whole-stage-codegen
eligible). This package ships ZERO Python UDFs: see SURVEY.md §2.12.
"""
