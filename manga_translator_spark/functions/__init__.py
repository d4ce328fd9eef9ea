def load_weights(name: str):
    """The committed ``.npz`` weights file ``name`` in this package, read as
    bytes through the package loader: it loads the same from the source
    tree and from a zip on ``sys.path`` (``--py-files``), where a path
    built from ``__file__`` is not a directory."""
    import io
    from importlib.resources import files

    import numpy as np

    return np.load(io.BytesIO(files(__name__).joinpath(name).read_bytes()), allow_pickle=False)
