"""Third-party-encoder interop for the GIF decoder: the container ships real GIFs written
by real encoders (Tk's logo set, libxslt's doc diagrams — GIF87a AND
GIF89a, sizes up to 668x520, palettes from 2 to 255 colors). A
desynchronized LZW decoder essentially cannot terminate cleanly with
the exact pixel count and in-palette indices on files like these, so a
clean full decode is a strong foreign-stream check even without
reference pixel values. Skips if the files are absent (different
container)."""

import glob
import os

import numpy as np
import pytest

from etl_for_dumdums_spark.operators.gif import decode_gif, is_gif

_DIRS = (
    "/usr/share/tcltk/tk8.6/images",
    "/usr/share/doc/libxslt1-dev/html",
)


def _foreign_gifs():
    files = []
    for d in _DIRS:
        files.extend(sorted(glob.glob(os.path.join(d, "*.gif"))))
    return files


@pytest.mark.skipif(not _foreign_gifs(), reason="no system GIFs in this container")
def test_decode_every_system_gif():
    files = _foreign_gifs()
    assert len(files) >= 5  # this container ships ~20
    versions = set()
    for path in files:
        data = open(path, "rb").read()
        assert is_gif(data)
        versions.add(bytes(data[3:6]))
        frames, delays = decode_gif(data)
        assert len(frames) >= 1 and len(delays) == len(frames)
        a = frames[0]
        # full-canvas RGBA, uint8, plausible content
        assert a.ndim == 3 and a.shape[2] == 4 and a.dtype == np.uint8
        assert a.shape[0] > 0 and a.shape[1] > 0
        assert len(np.unique(a[:, :, :3].reshape(-1, 3), axis=0)) >= 2
    # the set spans both spec versions — 87a files have no extensions at
    # all, so this also proves the block walker handles their absence
    assert versions == {b"87a", b"89a"}


@pytest.mark.skipif(
    not os.path.exists("/usr/share/tcltk/tk8.6/images/tai-ku.gif"),
    reason="tk images absent",
)
def test_known_foreign_gif_statistics():
    """Pin the decoded statistics of one stable foreign file (Tk's tai-ku
    logo): any future decoder regression that still 'decodes cleanly'
    must reproduce these exact integers to pass."""
    data = open("/usr/share/tcltk/tk8.6/images/tai-ku.gif", "rb").read()
    frames, _ = decode_gif(data)
    a = frames[0]
    assert a.shape == (100, 100, 4)
    assert int(a[:, :, :3].astype(np.int64).sum()) == 3595832
    # the file really does use a GCE transparent index on 38 pixels
    assert int((a[:, :, 3] == 0).sum()) == 38
