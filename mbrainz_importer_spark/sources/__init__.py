def local_path(p: str) -> str:
    """`p` without a leading `file://` or `file:`. Any other path, relative
    ones included, comes back unchanged."""
    for prefix in ("file://", "file:"):
        if p.startswith(prefix):
            return p[len(prefix):]
    return p
