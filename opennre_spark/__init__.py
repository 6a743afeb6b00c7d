"""opennre_spark — a from-scratch PySpark-native knowledge-graph
construction engine with the query/data-processing capabilities of
thunlp/OpenNRE (reference at /root/reference, cited per-module).

The reference is a PyTorch relation-extraction toolkit; this package
re-expresses its dataflow (tokenize -> encode -> classify -> bag
aggregate -> rank/threshold -> metrics) as Spark DataFrame plans with
vectorized pandas/Arrow UDF kernels for the dense math. Nothing here is
a port of the reference's execution engine.
"""

__version__ = "0.1.0"

# installs the zip re-read guard in every process that imports the
# package, Python workers included (see _worker.py)
from . import _worker  # noqa: E402,F401
