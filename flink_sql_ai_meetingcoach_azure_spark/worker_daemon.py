"""``pyspark.daemon`` whose zip importers re-read an archive's directory on
``importlib.invalidate_caches()`` (run before every task) only when the
archive's ``(st_mtime_ns, st_size)`` changed since it was last read."""

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
#: archive -> (stamp, directory read at it); forked workers inherit it
_read_at = {}


def invalidate_if_changed(importer):
    try:
        st = os.stat(importer.archive)
    except OSError:
        return _reread(importer)
    stamp = (st.st_mtime_ns, st.st_size)
    seen = _read_at.get(importer.archive)
    if seen is not None and seen[0] == stamp:
        importer._files = seen[1]
    else:  # stamped before the read: a change during it shows next call
        _reread(importer)
        _read_at[importer.archive] = (stamp, importer._files)


if __name__ == "__main__":
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    daemon.manager()
