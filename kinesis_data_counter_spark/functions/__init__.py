"""Column-function helpers shared across operators.

Kept deliberately thin: almost everything the engine needs is a built-in
``pyspark.sql.functions`` call — see operators/ for the composed forms.
"""
