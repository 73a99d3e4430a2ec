package com.example.extensions.imported

import com.example.extensions.entities.ExtendMe

fun ExtendMe.print() {
    println("imported: $value")
}

fun callToImported() {
    ExtendMe("imported").print()
}
