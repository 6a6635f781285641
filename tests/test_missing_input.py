"""A reader given a path that does not exist raises FileNotFoundError
naming the path."""

import re

import pytest

from gdal_spark.sources.geopackage import read_gpkg
from gdal_spark.sources.zarr import zarr_info


@pytest.mark.parametrize("name,read", [
    ("x.gpkg", lambda spark, p: read_gpkg(spark, p)),
    ("x.zarr", lambda spark, p: zarr_info(p)),
])
def test_missing_input_names_the_path(spark, tmp_path, name, read):
    path = str(tmp_path / "absent" / name)
    with pytest.raises(FileNotFoundError, match=re.escape(path)):
        read(spark, path)
