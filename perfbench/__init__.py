"""Host-sized, oracle-checked benchmark of the augdiff batch and the
image operators; see README.md."""
