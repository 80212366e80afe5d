"""Python worker daemon for the engine's sessions (``spark.python.daemon.module``).

Spark forks every Python worker from one daemon process. Importing
pandas and pyarrow here, before the first fork, lets every worker share
those pages copy-on-write instead of importing them into its own memory
on its first pandas UDF; ``gc.freeze()`` keeps the collector from
writing to (and so copying) the inherited objects.
"""

import gc

import pandas  # noqa: F401
import pyarrow  # noqa: F401
import pyspark.sql.pandas.serializers  # noqa: F401
import pyspark.worker  # noqa: F401
from pyspark import daemon

if __name__ == "__main__":
    gc.freeze()
    daemon.manager()
