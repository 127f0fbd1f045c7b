"""Kernel library: the numeric kernels (pure NumPy, no SciPy dependency)
and the shared text kernel (Spark column expressions,
:mod:`spark_bestfit_spark.functions.text`)."""
