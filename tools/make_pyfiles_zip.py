"""Build the spark-submit --py-files archive of gdal_spark.

    python tools/make_pyfiles_zip.py [/tmp/gdal_spark.zip]
"""

from __future__ import annotations

import os
import sys

if __name__ == "__main__":
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from gdal_spark.session import package_zip

    print(package_zip(sys.argv[1] if len(sys.argv) > 1
                      else "/tmp/gdal_spark.zip"))
