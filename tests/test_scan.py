from cdc_tools_spark.sources.scan import _local_path


def test_local_path_keeps_file_uri_authority():
    """``file:`` URIs without an authority resolve to their path; a
    ``file://host/...`` URI names a remote share and is not local."""
    assert _local_path("file:/x") == "/x"
    assert _local_path("file:///x") == "/x"
    assert _local_path("file://host/share/x.parquet") is None
